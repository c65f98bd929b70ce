package graft.streaming

import scala.collection.mutable

import graft.{QueryDef, Scale, Tables}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Add, BoundReference, Cast,
  EvalMode, GenericInternalRow, Literal, Log10, Round, Subtract}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's streaming rescorer
  * (`StreamingRecommender.scala:116-263`) re-expressed set-oriented:
  * what the reference does with 3 external RPCs *per rating event*
  * (Redis recent-ratings lrange, broadcast sim-matrix probe, Mongo
  * rated-set query) becomes joins + aggregations per micro-batch, so
  * the per-event cost is amortized into set-at-a-time operators that
  * Catalyst plans (broadcast joins for the sim matrix, left-anti for
  * the rated set).
  *
  * The scoring formula is the reference's
  * `computeProductScores` + `getRecentRatings`
  * (`StreamingRecommender.scala:151-159,197-231,250-252`):
  * candidate score = avg(sim × recentScore) + log10(#high + 1) −
  * log10(#low + 1), high = rating > 3.
  *
  * The batch query q25 scores in memory while its ratings fit
  * [[graft.Scale.exactPairLimit]], as the reference scores each event
  * against local maps (`StreamingRecommender.scala:78-90`): the
  * recent-K cap, co-occurrence sims, sim top-K, rated-set anti-join
  * and top-5 run on the driver over the collected ratings, with the
  * plan's scalar arithmetic evaluated by Catalyst's own expressions.
  * The stream keeps [[rescore]].
  */
object Rescoring {

  val RecentK = 20      // MAX_USER_RATING_NUM  (StreamingRecommender.scala:48)
  val SimK = 20         // MAX_SIM_PRODUCTS_NUM (StreamingRecommender.scala:50)
  val OutK = 5

  /** Deterministic co-occurrence item similarity (users-who-rated-both
    * normalized by popularity): sim(p,q) = |U_p ∩ U_q| / √(|U_p|·|U_q|).
    * Unlike the ALS-factor cosine matrix it is exactly reproducible in
    * ANSI SQL, which lets the full rescoring pipeline be
    * oracle-checked end-to-end.
    */
  def coocSims(ratings: DataFrame, recentK: Int = RecentK): DataFrame =
    coocSimsFromCapped(
      cappedRecent(ratings, recentK).select("userId", "productId"))

  /** Each user's recent-K ratings `(userId, productId, score)` — the
    * shared cap both the sim build and the rescore consume. Score is
    * the LAST tiebreak: (ts, productId) alone is not a total order —
    * same-microsecond events for one user can repeat a productId with
    * different scores, and an ambiguous pick at the recent-K boundary
    * changes rec_score (bit at sf0.1).
    */
  def cappedRecent(ratings: DataFrame, recentK: Int = RecentK)
      : DataFrame = {
    // Cap each user's history to their recent-K ratings BEFORE the
    // self-join (the reference's own semantics — MAX_USER_RATING_NUM,
    // StreamingRecommender.scala:48): the per-user pair blowup is
    // quadratic in history length, so an uncapped power user with 10⁵
    // events would emit 10¹⁰ pairs; capped, every user contributes at
    // most K² regardless of corpus scale.
    val w = Window.partitionBy("userId")
      .orderBy(desc("ts"), asc("productId"), asc("score"))
    ratings.withColumn("crn", row_number().over(w))
      .filter(col("crn") <= recentK)
      .select("userId", "productId", "score")
  }

  /** [[coocSims]] over an already-capped `(userId, productId)`
    * history — split out so a caller that also needs the capped table
    * (q25 consumes it in four subtrees) can materialize it ONCE
    * instead of re-running the recent-K window per reference.
    */
  def coocSimsFromCapped(capped: DataFrame): DataFrame = {
    val cnt = capped.groupBy("productId").agg(count(lit(1)).as("c"))
    val a = capped.select(col("userId"), col("productId").as("pa"))
    val b = capped.select(col("userId"), col("productId").as("pb"))
    a.join(b, "userId").filter(col("pa") =!= col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n"))
      .join(cnt.select(col("productId").as("pa"), col("c").as("ca")), "pa")
      .join(cnt.select(col("productId").as("pb"), col("c").as("cb")), "pb")
      .select(col("pa"), col("pb"),
        (col("n").cast("double") / sqrt((col("ca") * col("cb")).cast("double")))
          .as("sim"))
  }

  /** Batch rescoring: given per-user recent ratings and an item-sim
    * matrix, produce top-`OutK` fresh recommendations per user —
    * the exact dataflow the reference runs per event, as one plan:
    * J4 (sim lookup) → J5/P6 (drop already-rated, left-anti) →
    * A8/A9 (weighted avg + log-bias counters) → O3 (top-k).
    */
  def rescore(recent: DataFrame, sims: DataFrame, rated: DataFrame)
      : DataFrame = {
    val simTop = {
      val w = Window.partitionBy("pa").orderBy(desc("sim"), asc("pb"))
      sims.withColumn("srn", row_number().over(w)).filter(col("srn") <= SimK)
    }
    val candidates = recent
      .join(simTop, recent("productId") === simTop("pa"))
      .select(col("userId"), col("pb").as("candidate"),
        col("sim"), col("score"))
      .join(rated.select(col("userId"),
          col("productId").as("candidate")),
        Seq("userId", "candidate"), "left_anti")
    val scored = candidates.groupBy("userId", "candidate")
      .agg(
        (sum((col("sim") * col("score")).cast("decimal(28,12)"))
          .cast("double") / count(lit(1))).as("base"),
        count(when(col("score") > 3, lit(1))).as("incr"),
        count(when(col("score") <= 3, lit(1))).as("decr"))
      .select(col("userId"), col("candidate"),
        round(col("base") + log10(col("incr") + 1) - log10(col("decr") + 1), 4)
          .as("rec_score"))
    val w = Window.partitionBy("userId")
      .orderBy(desc("rec_score"), asc("candidate"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= OutK)
  }

  /** The full pipeline as an oracle-checked batch query over `events`:
    * derive ratings, build co-occurrence sims, take each user's 20
    * most recent ratings, rescore, emit top-5 per user. This is the
    * reference's most complex dataflow (EP3) with every step
    * SQL-expressible, so correctness is hash-gated — the streaming
    * variant below reuses exactly these operators per micro-batch.
    */
  val rescoreBatch: QueryDef = QueryDef.sql(
    "q25_stream_rescore_batch",
    s"""WITH ratings AS (
       |  SELECT user_id AS userId, event_id % ${Tables.NumProducts} AS productId,
       |         CAST((CAST(round(value * 100) AS BIGINT) % 450 + 5) // 10
       |           AS DOUBLE) / 10 + 0.5 AS score, ts
       |  FROM events),
       | recent AS (
       |  SELECT userId, productId, score, row_number() OVER
       |    (PARTITION BY userId
       |     ORDER BY ts DESC, productId, score) AS rrn
       |  FROM ratings),
       | capped AS (
       |  SELECT userId, productId FROM recent WHERE rrn <= $RecentK),
       | cnt AS (SELECT productId, count(*) AS c FROM capped GROUP BY productId),
       | cooc AS (
       |  SELECT a.productId AS pa, b.productId AS pb, count(*) AS n
       |  FROM capped a JOIN capped b
       |    ON a.userId = b.userId AND a.productId <> b.productId
       |  GROUP BY pa, pb),
       | sims AS (
       |  SELECT pa, pb,
       |    CAST(n AS DOUBLE) / sqrt(CAST(ca.c * cb.c AS DOUBLE)) AS sim
       |  FROM cooc JOIN cnt ca ON cooc.pa = ca.productId
       |            JOIN cnt cb ON cooc.pb = cb.productId),
       | sim_top AS (
       |  SELECT pa, pb, sim, row_number() OVER
       |    (PARTITION BY pa ORDER BY sim DESC, pb) AS srn FROM sims),
       | cand AS (
       |  SELECT r.userId, s.pb AS candidate, s.sim, r.score
       |  FROM recent r JOIN sim_top s ON r.productId = s.pa
       |  WHERE r.rrn <= $RecentK AND s.srn <= $SimK
       |    AND NOT EXISTS (SELECT 1 FROM ratings rt
       |      WHERE rt.userId = r.userId AND rt.productId = s.pb)),
       | scored AS (
       |  SELECT userId, candidate,
       |    round(CAST(sum(CAST(sim * score AS DECIMAL(28,12))) AS DOUBLE)
       |            / count(*)
       |          + log10(count(CASE WHEN score > 3 THEN 1 END) + 1)
       |          - log10(count(CASE WHEN score <= 3 THEN 1 END) + 1), 4)
       |      AS rec_score
       |  FROM cand GROUP BY userId, candidate),
       | ranked AS (
       |  SELECT userId, candidate, rec_score, row_number() OVER
       |    (PARTITION BY userId ORDER BY rec_score DESC, candidate) AS rank
       |  FROM scored)
       | SELECT userId AS user_id, candidate AS product_id, rec_score,
       |   CAST(rank AS INT) AS rank
       | FROM ranked WHERE rank <= $OutK
       | ORDER BY user_id, rank""".stripMargin.replaceAll("\n", "")
  )((s, d) => batchRecs(Tables.cachedRatings(s, d)))

  /** q25 over `ratings` (userId, productId, score, ts), ordered by
    * (user_id, rank). One bounded collect decides the side: while the
    * ratings fit [[Scale.exactPairLimit]] the pipeline runs on the
    * driver ([[localRecs]]); above it the distributed plan runs.
    */
  def batchRecs(ratings: DataFrame): DataFrame = {
    // ts as its microseconds, the order a timestamp sorts in
    val keyed = ratings.select(col("userId"), col("productId"),
      col("score"), unix_micros(col("ts")))
    Scale.collectWithin(keyed) match {
      case Some(rows) => localRecs(ratings.sparkSession, rows, ratings.schema)
      case None =>
        // The recent-K window feeds FOUR subtrees (the rescore
        // candidate join + the sim build's cnt table and both self-join
        // sides): materialize the ~K-rows-per-user cap once.
        val recent = cappedRecent(ratings, RecentK).localCheckpoint()
        // distinct pre-aggregation shrinks the anti-join build side
        // from |ratings| rows to |user×product| pairs before the hash
        // relation is built (NOT EXISTS semantics are set-based anyway).
        rescore(recent,
            coocSimsFromCapped(recent.select("userId", "productId")),
            ratings.select("userId", "productId").distinct())
          .select(col("userId").as("user_id"),
            col("candidate").as("product_id"), col("rec_score"), col("rank"))
          .orderBy("user_id", "rank")
    }
  }

  private final case class Rating(user: Option[Int], product: Option[Int],
      score: Option[Double], ts: Option[Long])

  // Spark's order on doubles: NaN above every number, -0.0 equal to 0.0
  private val SqlDouble: Ordering[Double] = new Ordering[Double] {
    def compare(x: Double, y: Double): Int = SQLOrderingUtil.compareDoubles(x, y)
  }

  /** [[cappedRecent]], [[coocSimsFromCapped]] and [[rescore]] on the
    * driver over collected `(userId, productId, score, ts micros)`
    * rows, as a local relation already in (user_id, rank) order. Spark's
    * null semantics hold throughout: ASC sorts nulls first and DESC
    * last, a null key never equi-joins, and the rated-set anti-join
    * keeps a null user's candidates. The per-row decimal cast, the
    * exact decimal sum, its cast back to double and the rounded score
    * are Catalyst's own expressions, evaluated under the session's
    * ANSI mode.
    */
  private def localRecs(s: SparkSession, rows: Array[Row],
      schema: StructType): DataFrame = {
    def opt[T](r: Row, i: Int): Option[T] =
      if (r.isNullAt(i)) None else Some(r.getAs[T](i))
    val ratings = rows.map(r =>
      Rating(opt[Int](r, 0), opt[Int](r, 1), opt[Double](r, 2), opt[Long](r, 3)))
    // cappedRecent's window: ts DESC, productId ASC, score ASC
    val recency = Ordering.by((r: Rating) => (r.ts, r.product, r.score))(
      Ordering.Tuple3(Ordering[Option[Long]].reverse, Ordering[Option[Int]],
        Ordering.Option(SqlDouble)))
    val byUser = ratings.groupBy(_.user)
    val capped = byUser.map { case (u, rs) =>
      u -> rs.sorted(recency).take(RecentK) }

    // coocSimsFromCapped: every ordered pair of a user's capped rows,
    // as sorted (pa << 32 | pb) keys whose runs are the pair counts
    val cnt = capped.values.flatten.flatMap(_.product)
      .groupMapReduce(identity)(_ => 1L)(_ + _)
    val keys = Array.newBuilder[Long]
    for ((Some(_), hist) <- capped) {
      val ps = hist.flatMap(_.product)
      for (a <- ps; b <- ps if a != b) keys += a.toLong << 32 | (b & 0xffffffffL)
    }
    val sorted = keys.result()
    java.util.Arrays.sort(sorted)
    val sims = mutable.ArrayBuffer[(Int, Int, Double)]()
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j) == sorted(i)) j += 1
      val (pa, pb) = ((sorted(i) >> 32).toInt, sorted(i).toInt)
      sims += ((pa, pb, (j - i).toDouble /
        math.sqrt(Math.multiplyExact(cnt(pa), cnt(pb)).toDouble)))
      i = j
    }
    val simTop = sims.groupBy(_._1).map { case (pa, ss) =>
      pa -> ss.sortBy(x => (x._3, x._2))(
        Ordering.Tuple2(SqlDouble.reverse, Ordering.Int)).take(SimK)
        .map(x => (x._2, x._3)) }

    // rescore, one user at a time: candidates minus the user's rated
    // set, aggregated per candidate, scored, top-OutK
    final class Acc {
      var sum: Decimal = null
      var n, incr, decr = 0L
    }
    val conf = s.sessionState.conf
    val mode = EvalMode.fromSQLConf(conf)
    val in = new GenericInternalRow(3)
    val toDecimal = Cast(BoundReference(0, DoubleType, nullable = false),
      DecimalType(28, 12), None, mode)
    // the cast of each distinct sim × score, by its bits
    val decimals = mutable.LongMap[Decimal]()
    def decimal(x: Double): Decimal =
      decimals.getOrElseUpdate(java.lang.Double.doubleToRawLongBits(x), {
        in.update(0, x)
        toDecimal.eval(in).asInstanceOf[Decimal]
      })
    val toDouble = Cast(BoundReference(0, DecimalType(38, 12), nullable = false),
      DoubleType, None, mode)
    val recScore = Round(
      Subtract(
        Add(BoundReference(0, DoubleType, nullable = true),
          Log10(BoundReference(1, DoubleType, nullable = false))),
        Log10(BoundReference(2, DoubleType, nullable = false))),
      Literal(4), conf.ansiEnabled)
    // rec_score DESC, candidate ASC
    val byScore = Ordering.by((x: (Int, Option[Double])) => (x._2, x._1))(
      Ordering.Tuple2(Ordering.Option(SqlDouble).reverse, Ordering.Int))
    val out = new java.util.ArrayList[Row]()
    for ((u, hist) <- capped.toSeq.sortBy(_._1)) {
      // a null user never matches the rated set
      val rated = if (u.isEmpty) Set.empty[Int] else byUser(u).flatMap(_.product).toSet
      val groups = mutable.LongMap[Acc]()
      for (r <- hist; pa <- r.product; (pb, sim) <- simTop.getOrElse(pa, Nil)
          if !rated(pb)) {
        val acc = groups.getOrElseUpdate(pb, new Acc)
        acc.n += 1
        for (score <- r.score) {
          val d = decimal(sim * score)
          if (d != null) acc.sum = if (acc.sum == null) d else acc.sum + d
          if (SqlDouble.gt(score, 3.0)) acc.incr += 1 else acc.decr += 1
        }
      }
      val scored = groups.toSeq.map { case (c, acc) =>
        if (acc.sum == null) in.setNullAt(0)
        else {
          in.update(0, acc.sum)
          in.update(0, toDouble.eval(in).asInstanceOf[Double] / acc.n.toDouble)
        }
        in.update(1, (acc.incr + 1).toDouble)
        in.update(2, (acc.decr + 1).toDouble)
        (c.toInt, Option(recScore.eval(in)).map(_.asInstanceOf[Double]))
      }
      for (((c, score), rank) <- scored.sorted(byScore).take(OutK).zipWithIndex)
        out.add(Row(u.getOrElse(null), c, score.getOrElse(null), rank + 1))
    }
    s.createDataFrame(out, StructType(Seq(
      StructField("user_id", IntegerType, schema("userId").nullable),
      StructField("product_id", IntegerType, schema("productId").nullable),
      StructField("rec_score", DoubleType),
      StructField("rank", IntegerType, nullable = false))))
  }

  /** S10/P7/F5 — the Kafka Streams log topology
    * (`Application.java:20-36`, `LogProcess.java:17-25`) as a single
    * streaming-capable projection: keep lines carrying the rating
    * prefix, strip it, parse the `UID|MID|SCORE|TIMESTAMP` wire format
    * (`StreamingRecommender.scala:110-113`). Works identically on a
    * batch or streaming DataFrame with a `value: string` column.
    */
  def extractRatings(logLines: DataFrame): DataFrame = {
    val payload = trim(substring_index(col("value"),
      "PRODUCT_RATING_PREFIX:", -1))
    val f = split(payload, "\\|")
    logLines
      .filter(col("value").contains("PRODUCT_RATING_PREFIX:"))
      .select(
        f.getItem(0).cast("int").as("userId"),
        f.getItem(1).cast("int").as("productId"),
        f.getItem(2).cast("double").as("score"),
        timestamp_seconds(f.getItem(3).cast("long")).as("ts"))
  }

  /** S7 — the reference's concrete stream source
    * (`StreamingRecommender.scala:94-107`: KafkaUtils.createDirectStream,
    * subscribe topic `recommender`, offsets latest) as Structured
    * Streaming option plumbing. Split out so it is unit-testable: the
    * kafka connector jar is not in this sandbox, so specs assert the
    * options and that `format("kafka")` reaches source resolution, not
    * a live broker.
    */
  val DefaultTopic = "recommender" // StreamingRecommender.scala:103

  def kafkaOptions(bootstrap: String, topic: String = DefaultTopic,
      startingOffsets: String = "latest"): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> bootstrap,
    "subscribe" -> topic,
    "startingOffsets" -> startingOffsets,
    "failOnDataLoss" -> "false")

  /** Kafka wire → parsed rating stream: value bytes as string, then
    * the `UID|MID|SCORE|TS` parse. Feeds `StreamPipeline` exactly like
    * the MemoryStream-backed tests do.
    */
  def readKafka(spark: SparkSession, bootstrap: String,
      topic: String = DefaultTopic, startingOffsets: String = "latest")
      : DataFrame =
    extractRatings(
      spark.readStream.format("kafka")
        .options(kafkaOptions(bootstrap, topic, startingOffsets))
        .load()
        .selectExpr("CAST(value AS STRING) AS value"))

  val defs: Seq[QueryDef] = Seq(rescoreBatch)
}
