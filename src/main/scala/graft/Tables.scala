package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.parquet.graft.ParquetBridge
import org.apache.spark.sql.types.StructType

/** Parquet loaders for the driver testdata star schema (TESTDATA.md /
  * FIXTURES.md §2). Every operator takes `(SparkSession, sfDir)` and
  * reads through here so source concerns (format, projection pushdown,
  * future DSv2 swaps) live in one place.
  *
  * The reference loads CSV into MongoDB and reads collections back
  * (`DataLoader.scala:38-50,78-90`); our storage layer is columnar
  * parquet, which gives column pruning + predicate pushdown for free.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** `$dir/$name.parquet` with the schema `spark.read.parquet` would
    * infer, read from one footer on the driver. Spark's own inference
    * runs a job for it even for a single file; this runs none.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The schema in the footer of `path`, or of its first data file when
    * it is a directory, converted under the session's parquet confs as
    * Spark converts it when it does not merge schemas. None when there
    * is no such file, so the caller's read reports the missing path.
    */
  private def footerSchema(s: SparkSession, path: String)
      : Option[StructType] = {
    val conf = s.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def data(name: String) = !name.startsWith("_") && !name.startsWith(".")
    val file =
      if (!fs.exists(p)) None
      else if (fs.getFileStatus(p).isFile) Some(fs.getFileStatus(p))
      else fs.listStatus(p).filter(f => f.isFile && data(f.getPath.getName))
        .sortBy(_.getPath.getName).headOption
    file.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      val footer = try new Footer(f.getPath, r.getFooter) finally r.close()
      ParquetBridge.readSchema(Seq(footer), s)
    }
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** `events.ts` has shipped as two parquet layouts across testdata
    * generations: TIMESTAMP(NANOS) (which Spark 4 rejects by default —
    * read as a nanos long via the legacy flag and truncate with `div`,
    * not `/`: float division of ~1.7e18 ns loses precision past 2^53)
    * and plain TIMESTAMP(MICROS) without UTC adjustment (which Spark
    * reads as TIMESTAMP_NTZ). Both normalize to a session-UTC
    * TimestampType here, matching DuckDB's µs timestamps so oracles
    * line up and downstream date/window code sees one type.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // numerically identity under the session's UTC timezone
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame =
    table(s, d, "documents")
  /** The engine's vector code (typed mapGroups, codegen'd cosine)
    * assumes `embedding: array<float>`. Guard against the same silent
    * testdata-regeneration drift that hit `events.ts` (round 8): if a
    * future generation writes doubles, normalize at the loader — the
    * cast is a no-op on the current float layout and keeps every
    * downstream `getSeq[Float]` from throwing mid-query.
    */
  def embeddings(s: SparkSession, d: String): DataFrame = {
    val df = table(s, d, "embeddings")
    df.schema("embedding").dataType match {
      case org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType, _) => df
      case _ => df.withColumn("embedding",
        col("embedding").cast("array<float>"))
    }
  }

  /** Number of synthetic products the `events` stream is mapped onto.
    * The reference's catalog has 96 products (`products.csv`); we use a
    * deterministic `event_id % N` projection at comparable cardinality.
    */
  val NumProducts = 200

  /** Synthetic ratings `(userId, productId, score, ts)` derived
    * deterministically from `events`, standing in for the reference's
    * `Rating(userId, productId, score, timestamp)`
    * (`DataLoader.scala:106-107`). Score is squashed into the
    * reference's 0.5–5.0 range. Used by the ALS / streaming pipelines;
    * not oracle-checked itself (the derivation is engine-internal).
    */
  def ratings(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("user_id").cast("int").as("userId"),
      (col("event_id") % NumProducts).cast("int").as("productId"),
      // value is 0.01..~500 with 2 decimals; fold onto 0.5..5.0.
      // Quantize in INTEGER cents: round(value,1)-style decimal
      // rounding of a binary double sits exactly on .X5 half-ties for
      // 2-decimal inputs, where engines' tie rules differ (Spark
      // BigDecimal HALF_UP vs multiply-based) — integer math is
      // bit-identical everywhere.
      ((floor((pmod(round(col("value") * 100).cast("long"), lit(450L)) + 5)
        / 10).cast("double") / 10) + lit(0.5)).as("score"),
      col("ts"))

  /** [[ratings]] persisted once per (session, sfDir). The streaming
    * rescorer references the derived table three times (recent window,
    * co-occurrence self-join, rated anti-set) and the ALS family
    * re-reads it per model stage; without a persist each reference
    * re-runs the events scan + derivation. The table is K rows of 4
    * scalars (no payload arrays), so the cache is small at any SF —
    * at cluster scale this is the "materialize the fact-derived view
    * once per job" pattern, not a driver-side shortcut.
    */
  def cachedRatings(spark: SparkSession, dir: String): DataFrame =
    StandingState(spark, ("tables.ratings", dir)) {
      val r = ratings(spark, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
}
