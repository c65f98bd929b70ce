package graft.ml

import graft.{QueryDef, Scale, StandingState, Tables}
import graft.functions.CosineSimilarity
import graft.functions.VectorFunctions.cosine_sim
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.ml.recommendation.graft.AlsBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's offline recommender (`OfflineRecommender.scala`,
  * `ALSTrainer.scala`) rebuilt on the DataFrame ML API:
  *
  *   - M1 ALS train: `mllib.ALS.train(rank=50, iter=5, lambda=0.01)`
  *     (`OfflineRecommender.scala:64-68`) → `ml.recommendation.ALS`
  *     with a pinned seed and `coldStartStrategy=drop`. mllib leaves
  *     the block count to `max(defaultParallelism, partitions / 2)`;
  *     we use `min(10, defaultParallelism)` user and item blocks (10
  *     is ml.ALS's default). Blocks beyond the task slots only add task
  *     waves, and q20's user×item block cross product and q22's factor
  *     cross join square the count. While the deduplicated ratings fit
  *     [[graft.Scale.exactPairLimit]] (each rating is one user×item
  *     pair) the same algorithm replays on the driver with Spark's own
  *     solver (`AlsBridge`): a 9k-rating model is about 20 stages of
  *     scheduling but a fraction of a second of arithmetic. Above the
  *     bound `ALS.fit` runs.
  *   - J1+P3+A4 user-recs: the reference materializes the full
  *     user×product cartesian grid, predicts, then groupByKey+sort
  *     (`OfflineRecommender.scala:71-84`). While |U|×|P| is within
  *     [[graft.Scale.exactPairLimit]] we score that grid on the
  *     driver from the driver fit's factors: a small grid costs
  *     microseconds of arithmetic but several jobs of scheduling.
  *     Above it, `recommendForAllUsers(20)` — blocked BLAS top-k that
  *     never materializes the grid; this is THE scale-critical rewrite
  *     (100 TB: grid is |U|×|P| rows, top-k is |U|×k).
  *   - J2+P5+A5 item-item similarity: cartesian self-join of latent
  *     factors + jblas cosine (`OfflineRecommender.scala:94-116`) →
  *     the [[graft.functions.CosineSimilarity]] arithmetic, threshold
  *     0.6 (`OfflineRecommender.scala:105`), top-20 per product. On
  *     the driver while |P|² is within the same limit; a cross join
  *     over `itemFactors` with the codegen'd expression and a window
  *     while |P| is; the LSH band join of `graft.dedup.Dedup` above.
  *   - M4-M6 RMSE evaluation: 80/20 split + grid search
  *     (`ALSTrainer.scala:41-79`) → `RegressionEvaluator("rmse")`.
  *
  * ALS output is seed-pinned but not bitwise reproducible across
  * cluster layouts, so these are rows-only checks (no SQL oracle).
  */
object Recommend {

  // Production defaults = the reference's published parameters
  // (`OfflineRecommender.scala:66`: rank=50, 5 iterations,
  // lambda=0.01). Overridable per query via `spark.graft.als.rank` /
  // `.reg` for bounded bench runs; note ml.ALS's regParam is scaled
  // differently from mllib's lambda (see MlSpec), so 0.01 here is
  // fidelity to the reference, not the tuned-quality choice.
  val Rank = 50
  val MaxIter = 5
  val RegParam = 0.01
  val TopK = 20
  val SimThreshold = 0.6

  /** Effective (rank, regParam): the reference defaults, overridable
    * per session (`spark.graft.als.rank` / `spark.graft.als.reg`) so a
    * bounded bench run is a conf change, not a code change.
    */
  def effRank(s: SparkSession): Int =
    s.conf.getOption("spark.graft.als.rank").map(_.toInt).getOrElse(Rank)
  def effReg(s: SparkSession): Double =
    s.conf.getOption("spark.graft.als.reg").map(_.toDouble).getOrElse(RegParam)

  // Standing entries key on the dir; the model entries also key the
  // hyperparams so a conf override misses instead of returning a model
  // fit at different params.

  /** The deduplicated `(userId, productId, avg score)` training table. */
  private def grouped(spark: SparkSession, dir: String): DataFrame =
    Tables.cachedRatings(spark, dir)
      .groupBy("userId", "productId").agg(avg("score").as("score"))

  /** [[grouped]] cached ONCE per (session, dir) — the eval split and every
    * distributed fit read the same materialization instead of re-scanning
    * and re-pinning a copy per (rank, reg) cache miss.
    */
  private def aggRatings(spark: SparkSession, dir: String): DataFrame =
    StandingState(spark, ("ml.aggRatings", dir)) {
      val r = grouped(spark, dir).cache()
      r.count()
      r
    }

  private def als(spark: SparkSession, rank: Int, reg: Double): ALS = new ALS()
    .setUserCol("userId").setItemCol("productId").setRatingCol("score")
    .setRank(rank).setMaxIter(MaxIter).setRegParam(reg)
    .setNumBlocks(math.min(10, spark.sparkContext.defaultParallelism))
    .setSeed(42L).setColdStartStrategy("drop")

  /** ALS at (rank, reg) over `ratings` `(userId, productId, score)`. One
    * bounded collect both decides the branch and feeds the fit: while the
    * ratings fit [[Scale.exactPairLimit]] (each is one user×item pair) the
    * fit replays on the driver ([[AlsBridge.fit]]) and fills the factor
    * copies; above it `ALS.fit` runs over `distributed`.
    */
  private def fit(spark: SparkSession, rank: Int, reg: Double,
      ratings: DataFrame, distributed: => DataFrame): Fitted = {
    val est = als(spark, rank, reg)
    Scale.collectWithin(ratings) match {
      case Some(rows) =>
        val (m, users, items) = AlsBridge.fit(spark, est,
          rows.map(_.getInt(0)), rows.map(_.getInt(1)),
          rows.map(_.getDouble(2).toFloat))
        new Fitted(m, Some((users, items)))
      case None => new Fitted(est.fit(distributed), None)
    }
  }

  // The model entries key the limit too, so a lowered bound refits on
  // the distributed path instead of returning the driver fit.
  private def fitted(spark: SparkSession, dir: String): Fitted = {
    val (rank, reg) = (effRank(spark), effReg(spark))
    StandingState(spark,
      ("ml.alsModel", dir, rank, reg, Scale.exactPairLimit(spark)))(
      fit(spark, rank, reg, grouped(spark, dir), aggRatings(spark, dir)))
  }

  /** Train-once-per-sfDir (Verify/Bench run several ALS-derived
    * queries in one JVM; retraining per query would be pure waste).
    */
  def model(spark: SparkSession, dir: String): ALSModel = fitted(spark, dir).model

  /** The shared seed-42 80/20 evaluation split, materialized once per
    * (session, dir) — every RMSE-style query evaluates on the same
    * held-out set.
    */
  def evalSplit(spark: SparkSession, dir: String): (DataFrame, DataFrame) =
    StandingState(spark, ("ml.evalSplit", dir)) {
      val Array(train, test) =
        aggRatings(spark, dir).randomSplit(Array(0.8, 0.2), seed = 42L)
      // localCheckpoint, not cache: ALS fits iterate over `train`
      // dozens of times, and a cache() keeps the randomSplit lineage
      // alive — any evicted block re-runs the split (and the ratings
      // agg above it) mid-fit. Checkpoint blocks spill to disk
      // instead of recomputing, which is where q24's rep-to-rep
      // variance came from.
      (train.localCheckpoint(), test.localCheckpoint())
    }

  /** Fit-once per (session, dir, rank, reg) on the shared eval split —
    * q23's production-params fit IS one of q24's grid combos, so the
    * grid reuses it instead of fitting the same model twice.
    */
  def fitOnSplit(spark: SparkSession, dir: String, rank: Int,
      reg: Double): ALSModel =
    StandingState(spark,
      ("ml.fitOnSplit", dir, rank, reg, Scale.exactPairLimit(spark))) {
      val (train, _) = evalSplit(spark, dir)
      fit(spark, rank, reg, train, train).model
    }

  private type Factors = AlsBridge.Factors

  /** One fitted model. A driver fit carries both factor tables, each as
    * `(id, features)` sorted by id; after a distributed fit the item count
    * takes one job and the item table is collected at most once, and only
    * by q22 once its bound check has said |items|² fits.
    */
  private final class Fitted(val model: ALSModel,
      val local: Option[(Factors, Factors)]) {
    lazy val numItems: Long =
      local.fold(model.itemFactors.count())(_._2.length.toLong)
    lazy val items: Factors = local.fold(
      model.itemFactors.collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1))(_._2)
  }

  // The local paths' schemas: exactly the distributed plans' (MlSpec
  // compares them).
  private val UserRecsSchema = StructType(Seq(
    StructField("user_id", LongType, nullable = false),
    StructField("rank", IntegerType, nullable = false),
    StructField("product_id", LongType),
    StructField("score", DoubleType)))
  private val ItemSimsSchema = StructType(Seq(
    StructField("product_id", LongType, nullable = false),
    StructField("sim_product_id", LongType, nullable = false),
    StructField("sim", DoubleType),
    StructField("rank", IntegerType, nullable = false)))

  /** M2/A4 — top-20 recommendations per user, flattened flat table
    * `(user_id, rank, product_id, score)` for stable row output. Scored
    * on the driver while |users| × |items| is within
    * [[Scale.exactPairLimit]], by `recommendForAllUsers` above it.
    */
  val userRecs: QueryDef = QueryDef.rowsOnly("q20_als_user_recs") {
    (s, d) =>
      val f = fitted(s, d)
      f.local match {
        case Some((users, items)) if Scale.exactOk(s, s"$d#userItemPairs",
            users.length.toLong * items.length) =>
          localUserRecs(s, users, items)
        // a distributed fit's grid is over the bound: its ratings, one
        // pair each, already were
        case _ =>
          f.model.recommendForAllUsers(TopK)
            .select(col("userId"),
              posexplode(col("recommendations")).as(Seq("pos", "rec")))
            .select(
              col("userId").cast("long").as("user_id"),
              (col("pos") + 1).as("rank"),
              col("rec.productId").cast("long").as("product_id"),
              col("rec.rating").cast("double").as("score"))
            .orderBy("user_id", "rank")
      }
  }

  /** q20 on the driver: f32 dot products accumulated in rank order (the
    * `recommendForAllUsers` score up to its BLAS lane order), top-K per
    * user by (score desc, product id asc), as a local relation already
    * in (user_id, rank) order — a sort over it would still submit jobs.
    */
  private def localUserRecs(s: SparkSession, users: Factors,
      items: Factors): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    val scores = new Array[Float](items.length)
    for ((uid, u) <- users) {
      for (j <- items.indices) {
        val v = items(j)._2
        var acc = 0f
        var k = 0
        while (k < u.length) { acc += u(k) * v(k); k += 1 }
        scores(j) = acc
      }
      // a stable sort over id-ordered items breaks ties by id
      items.indices.sortWith(scores(_) > scores(_)).take(TopK).zipWithIndex
        .foreach { case (j, r) =>
          rows.add(Row(uid.toLong, r + 1, items(j)._1.toLong,
            scores(j).toDouble))
        }
    }
    s.createDataFrame(rows, UserRecsSchema)
  }

  /** M3 — latent item factors `(product_id, dim, weight)`. */
  val itemFactors: QueryDef = QueryDef.rowsOnly("q21_als_item_factors") {
    (s, d) =>
      model(s, d).itemFactors
        .select(col("id"), posexplode(col("features")).as(Seq("dim", "weight")))
        .select(
          col("id").cast("long").as("product_id"),
          col("dim"),
          col("weight").cast("double").as("weight"))
        .orderBy("product_id", "dim")
  }

  /** J2/P4/P5/A5/F2 — item-item cosine similarity matrix, threshold
    * 0.6, top-20 per product. Three regimes by catalog size n:
    * n² within [[Scale.exactPairLimit]] scores on the driver; n within
    * it runs an n×n cross join with the codegen'd cosine expression;
    * above that the LSH band join of `graft.dedup.Dedup` supplies the
    * candidate pairs.
    */
  val itemSims: QueryDef = QueryDef.rowsOnly("q22_item_sim_cosine") {
    (s, d) =>
      val fit = fitted(s, d)
      val n = fit.numItems
      if (Scale.exactOk(s, s"$d#itemPairs", n * n))
        localItemSims(s, fit.items)
      else {
        val f = fit.model.itemFactors
          .select(col("id"), col("features"))
        val w = Window.partitionBy("product_id")
          .orderBy(desc("sim"), asc("sim_product_id"))
        val pairPool =
          if (Scale.exactOk(s, s"$d#itemFactors", n)) {
            val a = f.select(col("id").as("pid_a"), col("features").as("fa"))
            val b = f.select(col("id").as("pid_b"), col("features").as("fb"))
            a.crossJoin(b).filter(col("pid_a") =!= col("pid_b"))
          } else
            // catalog too big for n²: hyperplane-banded candidates
            // (both directions — the sim matrix is consumed per-row),
            // factor vectors re-attached by key after the band join;
            // results above the limit are approximate by design
            graft.dedup.Dedup
              .lshCosinePairsConf(f, "id", "features", symmetric = true)
              .join(f.select(col("id").as("id_a"), col("features").as("fa")),
                "id_a")
              .join(f.select(col("id").as("id_b"), col("features").as("fb")),
                "id_b")
              .select(col("id_a").as("pid_a"), col("fa"),
                col("id_b").as("pid_b"), col("fb"))
        pairPool
          .select(
            col("pid_a").cast("long").as("product_id"),
            col("pid_b").cast("long").as("sim_product_id"),
            round(cosine_sim(col("fa"), col("fb")), 6).as("sim"))
          .filter(col("sim") > SimThreshold)
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= TopK)
          .orderBy("product_id", "rank")
      }
  }

  /** q22 on the driver: the cosine expression's own arithmetic,
    * rounded half-up to 6 places as Spark's `round` rounds a double,
    * kept above the threshold, top-K per product by (sim desc, id
    * asc), as a local relation already in (product_id, rank) order.
    */
  private def localItemSims(s: SparkSession, items: Factors): DataFrame = {
    val vecs = items.map(i => UnsafeArrayData.fromPrimitiveArray(i._2))
    val rows = new java.util.ArrayList[Row]()
    for (a <- items.indices) {
      val sims = for {
        b <- items.indices if b != a
        cos = CosineSimilarity.cosine(vecs(a), vecs(b))
        sim = java.math.BigDecimal.valueOf(cos)
          .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
        if sim > SimThreshold
      } yield (b, sim)
      // a stable sort over id-ordered items breaks ties by id
      sims.sortWith(_._2 > _._2).take(TopK).zipWithIndex
        .foreach { case ((b, sim), r) =>
          rows.add(Row(items(a)._1.toLong, items(b)._1.toLong, sim, r + 1))
        }
    }
    s.createDataFrame(rows, ItemSimsSchema)
  }

  /** M4-M6 — held-out RMSE of the production params on an 80/20
    * split (`ALSTrainer.scala:41-79`), as a single-row result.
    */
  val alsRmse: QueryDef = QueryDef.rowsOnly("q23_als_rmse") { (s, d) =>
    import s.implicits._
    val (_, test) = evalSplit(s, d)
    val rmse = evaluateRmse(fitOnSplit(s, d, effRank(s), effReg(s)), test)
    Seq(rmse).toDF("rmse").select(round(col("rmse"), 6).as("rmse"))
  }

  def evaluateRmse(m: ALSModel, test: DataFrame): Double =
    new RegressionEvaluator()
      .setMetricName("rmse").setLabelCol("score")
      .setPredictionCol("prediction")
      .evaluate(m.transform(test))

  /** The grid's (rank, reg) combos. Dims come from
    * `spark.graft.als.grid` ("ranks:regs", e.g. the reference's full
    * ALSTrainer.scala:53-63 sweep is "100,200,250:1,0.1,0.01,0.001");
    * the default 2×2 keeps the bench bounded — the full grid is a
    * conf change, not code — and includes the production combo
    * (effRank, effReg) so q23's fit is one of the grid's, shared
    * through [[fitOnSplit]]. Exposed so Verify's replay dump walks
    * exactly the combos the query fit.
    */
  private[graft] def gridCombos(s: SparkSession): Seq[(Int, Double)] = {
    val (ranks, regs) = s.conf.getOption("spark.graft.als.grid") match {
      case Some(spec) =>
        val parts = spec.split(":")
        require(parts.length == 2,
          s"spark.graft.als.grid must be 'rank,rank,...:reg,reg,...'" +
            s" (e.g. '100,200,250:1,0.1,0.01,0.001'), got: $spec")
        (parts(0).split(",").toSeq.map(_.trim.toInt),
          parts(1).split(",").toSeq.map(_.trim.toDouble))
      case None =>
        (Seq(20, effRank(s)).distinct, Seq(effReg(s), 0.1).distinct)
    }
    for { rank <- ranks; reg <- regs } yield (rank, reg)
  }

  /** M5 — grid search over (rank, regParam) by held-out RMSE
    * (`ALSTrainer.scala:53-63`); emits the whole grid, best first.
    * Kept small (2×2) so the bench run stays bounded; the full
    * reference grid is a parameter change, not a code change.
    */
  val gridSearch: QueryDef = QueryDef.rowsOnly("q24_als_grid_search") {
    (s, d) =>
      import s.implicits._
      val (_, test) = evalSplit(s, d)
      // Fits run concurrently (Spark schedules jobs from multiple
      // threads fairly): each small ALS fit underutilizes the
      // cluster, so the grid overlaps instead of serializing. Two at
      // a time — measured sweet spot; four concurrent iterative fits
      // contend on shuffle slots and the wall time gets noisy.
      // Each combo goes through fitOnSplit, so the production combo
      // (fit by q23) is reused, not re-fit.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val combos = gridCombos(s)
      val grid = try Await.result(
        Future.sequence(combos.map { case (rank, reg) =>
          Future {
            val m = fitOnSplit(s, d, rank, reg)
            (rank, reg, evaluateRmse(m, test))
          }
        }), Duration.Inf)
      finally pool.shutdown()
      grid.toDF("rank", "reg_param", "rmse")
        .select(col("rank"), col("reg_param"), round(col("rmse"), 6).as("rmse"))
        .orderBy("rmse", "rank", "reg_param")
  }

  /** q72 — co-occurrence item-item similarity, the model-free
    * counterpart of q22's factor cosine (classic item-CF: two
    * products are similar when the same users interact with both;
    * sim = c(a,b) / √(c(a)·c(b)), the cosine of the binary
    * interaction vectors). The reference computes its streaming-side
    * sim matrix offline from ALS factors; this is the spelling that
    * needs NO trained model and updates with a pure count refresh.
    *
    * Scale shape: the pair generation self-joins the DISTINCT
    * (user, product) table on user — per-user cost is d² in the
    * user's distinct-product count, the well-known co-occurrence
    * blowup. The standard mitigation (cap each user's contribution
    * at the K most-interacted products; whale users add noise, not
    * signal) is plumbed via `spark.graft.cooccur.userCap` — the
    * DEFAULT leaves it off so the oracle compare stays exact (the
    * test corpus tops out at ~80 products/user). Counts are exact
    * integers and √/÷ are single IEEE ops on them, so the doubles
    * hash-match the oracle bit-for-bit unrounded.
    */
  val coOccurSims: QueryDef = QueryDef.sql(
    "q72_cooccur_sim",
    s"""WITH up AS (SELECT DISTINCT user_id,
       |   event_id % ${Tables.NumProducts} AS p FROM events),
       | cnt AS (SELECT p, count(*) AS c FROM up GROUP BY p),
       | pairs AS (SELECT u1.p AS pa, u2.p AS pb, count(*) AS cab
       |  FROM up u1 JOIN up u2 ON u1.user_id = u2.user_id AND u1.p <> u2.p
       |  GROUP BY u1.p, u2.p),
       | sims AS (SELECT pa AS product_id, pb AS sim_product_id,
       |   CAST(cab AS DOUBLE) / sqrt(CAST(ca.c * cb.c AS DOUBLE)) AS sim
       |  FROM pairs JOIN cnt ca ON pairs.pa = ca.p
       |   JOIN cnt cb ON pairs.pb = cb.p),
       | ranked AS (SELECT product_id, sim_product_id, sim, row_number()
       |   OVER (PARTITION BY product_id
       |         ORDER BY sim DESC, sim_product_id) AS rank FROM sims)
       | SELECT product_id, sim_product_id, sim, CAST(rank AS INT) AS rank
       | FROM ranked WHERE rank <= ${TopK}
       | ORDER BY product_id, rank""".stripMargin.replaceAll("\n", "")
  ) { (s, d) =>
    val userCap = s.conf.getOption("spark.graft.cooccur.userCap")
      .map(_.toInt)
    val upAll = Tables.events(s, d)
      .select(col("user_id"),
        (col("event_id") % Tables.NumProducts).as("p"))
      .distinct()
    val up = userCap match {
      case None => upAll
      case Some(cap) =>
        // whale-user cap: keep each user's K most-recent products
        // (deterministic id order here — interaction recency in a
        // real deployment); bounds the pair blowup at K² per user
        val w = Window.partitionBy("user_id").orderBy(col("p"))
        upAll.withColumn("__rn", row_number().over(w))
          .filter(col("__rn") <= cap).drop("__rn")
    }
    val cnt = up.groupBy("p").agg(count(lit(1)).as("c"))
    // both directions come out of ONE join pass (`=!=`, not `<` +
    // re-symmetrizing union: a union's branches each re-evaluate the
    // shared pair pipeline) — 2× pair rows through one shuffle beats
    // the whole upstream computed twice. Dataset ALIASES of the one
    // up plan → ReuseExchange computes the whale-cap window once,
    // not once per join side (the q124 lesson).
    val pairs = up.as("l")
      .join(up.as("r"), col("l.user_id") === col("r.user_id"))
      .filter(col("l.p") =!= col("r.p"))
      .groupBy(col("l.p").as("pa"), col("r.p").as("pb"))
      .agg(count(lit(1)).as("cab"))
    val sims = pairs
      .join(broadcast(cnt.select(col("p").as("pa"), col("c").as("ca"))),
        "pa")
      .join(broadcast(cnt.select(col("p").as("pb"), col("c").as("cb"))),
        "pb")
      .select(col("pa").as("product_id"), col("pb").as("sim_product_id"),
        (col("cab").cast("double") /
          sqrt((col("ca") * col("cb")).cast("double"))).as("sim"))
    val w = Window.partitionBy("product_id")
      .orderBy(desc("sim"), asc("sim_product_id"))
    sims.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .orderBy("product_id", "rank")
  }

  val defs: Seq[QueryDef] =
    Seq(userRecs, itemFactors, itemSims, alsRmse, gridSearch, coOccurSims)
}
