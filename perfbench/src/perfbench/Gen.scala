package perfbench

import java.sql.Timestamp

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every input of every workload is a pure
  * function of `(seed, stream)`: the same seed gives byte-identical rows.
  * The program under test only ever sees the generated files and lines.
  *
  *   - `events` snapshots in the testdata schema, with Zipf-skewed user
  *     activity and Zipf-skewed product popularity. The product of an
  *     event is `event_id % Tables.NumProducts`, so `event_id` is built
  *     as `i * NumProducts + product`.
  *   - the star-schema side tables the catalog queries read (region,
  *     nation, customer, supplier, part, orders, lineitem, documents,
  *     embeddings), shaped like the testdata at sf0.001;
  *   - rating-log lines `... PRODUCT_RATING_PREFIX:uid|pid|score|ts` for
  *     the stream, one event-time second apart so recent-K order is
  *     total.
  *
  * Run standalone to write a workload's inputs and print their
  * properties:
  *
  *   java -cp <classpath> perfbench.Gen --seed 7 --kind catalog_serve --out data/
  *   java -cp <classpath> perfbench.Gen --seed 7 --kind refresh_stream \
  *     --seconds 20 --out data/
  *
  * For `refresh_stream` it writes the seed snapshot and `rating.log`,
  * exactly the events a run of `--seconds` sends.
  */
object Gen {

  val NumProducts: Int = graft.Tables.NumProducts
  private val Day = 86400L * 1000000L
  private val Jan2024Micros = 1704067200L * 1000000L
  private val EventTypes = Array("view", "click", "purchase", "signup", "error")

  /** A Zipf(s) sampler over `0 until n`, with ranks mapped to ids by a
    * seeded permutation so the popular ids are not simply the small ones.
    */
  final class Zipf(n: Int, s: Double, rng: java.util.Random) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    private val ids = {
      val a = Array.range(0, n)
      for (i <- n - 1 to 1 by -1) {
        val j = rng.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    def next(): Int = {
      val u = rng.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < u) lo = mid + 1 else hi = mid
      }
      ids(lo)
    }
  }

  /** Independent deterministic stream per (seed, purpose). */
  def rng(seed: Long, stream: Long): java.util.Random =
    new java.util.Random(seed * 1000003L + stream * 7919L + 17L)

  final case class EventsSpec(rows: Int, users: Int, userSkew: Double = 1.0,
      productSkew: Double = 0.8)

  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** One `events` snapshot: `(user_id, product)` per row plus the rows. */
  def events(seed: Long, stream: Long, spec: EventsSpec): Array[Row] = {
    val r = rng(seed, stream)
    val users = new Zipf(spec.users, spec.userSkew, r)
    val products = new Zipf(NumProducts, spec.productSkew, r)
    Array.tabulate(spec.rows) { i =>
      val p = products.next()
      Row(i.toLong * NumProducts + p,
        microsTs(Jan2024Micros + (r.nextDouble() * 30 * Day).toLong),
        users.next().toLong, EventTypes(r.nextInt(EventTypes.length)),
        (1 + r.nextInt(50000)) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Rewrite each row's `value` so the rating `graft.Tables.ratings`
    * derives from it follows a planted rank-3 model plus noise:
    * score = clip(2.7 + 0.9·(u·v)/√3 + N(0, 0.25)) on the 0.1 grid of
    * [0.5, 4.9]. The ratings derivation keeps `round(value·100) mod 450`,
    * so `value = (100·(score − 0.5) + 450·k) / 100` for a random k. The
    * factors depend on the seed only, so every snapshot of a run shares
    * one structure.
    */
  def planted(rows: Array[Row], seed: Long, users: Int): Array[Row] = {
    val f = rng(seed, 7)
    val rank = 3
    val uf = Array.fill(users, rank)(f.nextGaussian())
    val pf = Array.fill(NumProducts, rank)(f.nextGaussian())
    val r = rng(seed, rows.length.toLong * 31 + rows.headOption.map(_.getLong(0)).getOrElse(0L))
    rows.map { row =>
      val (u, p) = (row.getLong(2).toInt, (row.getLong(0) % NumProducts).toInt)
      val dot = (0 until rank).map(k => uf(u)(k) * pf(p)(k)).sum / math.sqrt(rank)
      val score = math.max(0.5, math.min(4.9,
        math.rint((2.7 + 0.9 * dot + 0.25 * r.nextGaussian()) * 10) / 10))
      val cents = math.round((score - 0.5) * 100) + 450L * r.nextInt(111)
      Row(row.get(0), row.get(1), row.get(2), row.get(3), cents / 100.0, row.get(5))
    }
  }

  private def microsTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  def writeTable(spark: SparkSession, dir: String, name: String,
      schema: StructType, rows: Seq[Row]): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")

  def writeEvents(spark: SparkSession, dir: String, rows: Array[Row]): Unit =
    writeTable(spark, dir, "events", eventsSchema, rows.toSeq)

  /** Input properties recorded in the benchmark's output. */
  def eventsProps(rows: Array[Row]): Map[String, Double] = {
    val perUser = rows.groupBy(_.getLong(2)).values.map(_.length.toDouble)
      .toArray.sorted
    val products = rows.map(_.getLong(0) % NumProducts).distinct.length
    Map("rows" -> rows.length.toDouble, "users" -> perUser.length.toDouble,
      "products" -> products.toDouble,
      "history_p50" -> Stats.pct(perUser, 50),
      "history_p99" -> Stats.pct(perUser, 99))
  }

  /** Rating-log lines for the stream: users drawn Zipf from the
    * snapshot's user range, one event-time second apart, starting after
    * the snapshot's last timestamp. Returns `(userId, productId, score,
    * tsSeconds, line)` per event.
    */
  final case class LogEvent(userId: Int, productId: Int, score: Double,
      tsSec: Long, line: String)

  def ratingLog(seed: Long, n: Int, users: Int): Array[LogEvent] = {
    val r = rng(seed, 99)
    val uz = new Zipf(users, 1.0, r)
    val pz = new Zipf(NumProducts, 0.8, r)
    val t0 = Jan2024Micros / 1000000L + 31 * 86400L
    Array.tabulate(n) { i =>
      val (u, p) = (uz.next(), pz.next())
      val score = (1 + r.nextInt(10)) / 2.0
      val ts = t0 + i
      LogEvent(u, p, score, ts,
        s"INFO rating-service PRODUCT_RATING_PREFIX:$u|$p|$score|$ts")
    }
  }

  def logProps(log: Array[LogEvent]): Map[String, Double] = {
    val perUser = log.groupBy(_.userId).values.map(_.length.toDouble)
      .toArray.sorted
    Map("rows" -> log.length.toDouble, "users" -> perUser.length.toDouble,
      "products" -> log.map(_.productId).distinct.length.toDouble,
      "history_p50" -> Stats.pct(perUser, 50),
      "history_p99" -> Stats.pct(perUser, 99))
  }

  private val Words = ("the a fast slow big small key value order sort " +
    "table scan merge part window hash join batch stream spark group " +
    "query row data line filter agg column customer vector dup").split(" ")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val Segments =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val PartTypes =
    Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val PartAdj = Array("cold", "small", "large", "red", "blue",
    "shiny", "heavy", "light")
  private val PartNoun = Array("widget", "bolt", "gear", "nut", "spring",
    "valve", "pipe", "panel")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM",
    "4-NOT SPECIFIED", "5-LOW")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE",
    "MIDDLE EAST")

  private def day(r: java.util.Random, fromYear: Int, days: Int): Timestamp =
    new Timestamp((java.time.LocalDate.of(fromYear, 1, 1).toEpochDay +
      r.nextInt(days)) * 86400000L)

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** Every table the registered queries read, at the testdata's
    * sf0.001 shape. `events` is a Zipf snapshot like the offline one.
    */
  def catalog(spark: SparkSession, dir: String, seed: Long)
      : Map[String, Map[String, Double]] = {
    val r = rng(seed, 1)
    def money(lo: Int, hi: Int): Double = (lo * 100 + r.nextInt((hi - lo) * 100)) / 100.0
    writeTable(spark, dir, "region", schema("r_regionkey" -> IntegerType,
      "r_name" -> StringType), Regions.indices.map(i => Row(i, Regions(i))))
    writeTable(spark, dir, "nation", schema("n_nationkey" -> IntegerType,
      "n_name" -> StringType, "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val nCust = 150
    writeTable(spark, dir, "customer", schema("c_custkey" -> LongType,
      "c_name" -> StringType, "c_nationkey" -> IntegerType,
      "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999, 9999), Segments(r.nextInt(Segments.length)))))
    val nSupp = 10
    writeTable(spark, dir, "supplier", schema("s_suppkey" -> LongType,
      "s_name" -> StringType, "s_nationkey" -> IntegerType,
      "s_acctbal" -> DoubleType),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999, 9999))))
    val nPart = 200
    writeTable(spark, dir, "part", schema("p_partkey" -> LongType,
      "p_name" -> StringType, "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
      (0 until nPart).map(i => Row(i.toLong,
        s"${PartAdj(r.nextInt(PartAdj.length))} ${PartNoun(r.nextInt(PartNoun.length))}",
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
        1 + r.nextInt(50), 900.0 + (i % 200) / 10.0)))
    val nOrders = 1500
    val orders = (0 until nOrders).map(i => Row(i.toLong,
      r.nextInt(nCust).toLong, "FOP".charAt(r.nextInt(3)).toString,
      money(1000, 500000), day(r, 1995, 2400),
      Priorities(r.nextInt(Priorities.length))))
    writeTable(spark, dir, "orders", schema("o_orderkey" -> LongType,
      "o_custkey" -> LongType, "o_orderstatus" -> StringType,
      "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType,
      "o_orderpriority" -> StringType), orders)
    val lines = ArrayBuffer[Row]()
    while (lines.length < 6000) {
      val o = r.nextInt(nOrders).toLong
      val n = 1 + r.nextInt(7)
      var ln = 1
      while (ln <= n && lines.length < 6000) {
        val qty = (1 + r.nextInt(50)).toDouble
        lines += Row(o, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, ln,
          qty, money(900, 95000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          "ANR".charAt(r.nextInt(3)).toString, "FO".charAt(r.nextInt(2)).toString,
          day(r, 1995, 2500))
        ln += 1
      }
    }
    // (orderkey, linenumber) must stay a key even when one order is
    // drawn twice: keep the first occurrence of each pair
    val li = lines.groupBy(x => (x.getLong(0), x.getInt(3))).values
      .map(_.head).toSeq.sortBy(x => (x.getLong(0), x.getInt(3)))
    writeTable(spark, dir, "lineitem", schema("l_orderkey" -> LongType,
      "l_partkey" -> LongType, "l_suppkey" -> LongType,
      "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType,
      "l_tax" -> DoubleType, "l_returnflag" -> StringType,
      "l_linestatus" -> StringType, "l_shipdate" -> TimestampType), li)
    val ev = events(seed, 2, EventsSpec(rows = 1000, users = 15))
    writeEvents(spark, dir, ev)
    val docs = (0 until 500).map { i =>
      val text = Array.fill(8 + r.nextInt(90))(Words(r.nextInt(Words.length)))
        .mkString(" ")
      Row(i.toLong, text, Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        text.length.toLong)
    }
    writeTable(spark, dir, "documents", schema("doc_id" -> LongType,
      "text" -> StringType, "lang" -> StringType, "source" -> StringType,
      "n_chars" -> LongType), docs)
    // ten label clusters: centroid + gaussian noise, unit-normalised
    val centroids = Array.fill(10, 64)(r.nextGaussian())
    val emb = (0 until 500).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(64)(d => centroids(label)(d) + 1.5 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    writeTable(spark, dir, "embeddings", schema("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType), emb)
    Map("events" -> eventsProps(ev),
      "lineitem" -> Map("rows" -> li.length.toDouble),
      "documents" -> Map("rows" -> 500.0),
      "embeddings" -> Map("rows" -> 500.0))
  }

  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    val seed = a.getOrElse("seed", sys.error("--seed is required")).toLong
    val out = a.getOrElse("out", sys.error("--out is required"))
    val spark = Session.start(1, s"$out/_spark")
    try {
      val props = a.getOrElse("kind", "refresh_stream") match {
        case "catalog_serve" => catalog(spark, out, seed)
        case "refresh_stream" =>
          val ev = Offline.snapshot(seed, 0)
          writeEvents(spark, out, ev)
          // the log a refresh_stream run of --seconds sends
          val seconds = a.getOrElse("seconds", sys.error("--seconds is required")).toDouble
          val log = ratingLog(seed, Stream.eventsPerPhase(seconds).sum,
            Offline.Spec.users)
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/rating.log"),
            log.map(_.line).mkString("", "\n", "\n").getBytes("UTF-8"))
          Map("snapshot" -> eventsProps(ev), "rating_log" -> logProps(log))
        case other => sys.error(s"unknown kind: $other")
      }
      println(Json.obj(props.map { case (k, v) => k -> Json.nums(v) }))
    } finally spark.stop()
  }
}
