package graft

import graft.ml.Recommend
import graft.sources.DelimitedSource
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.ml.recommendation.ALS
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ML regression gate (SURVEY §5.4): ALS with tuned production params
  * on planted ratings must reach a fixed RMSE bar with the same slack
  * the reference's bar had over its measured RMSE (1.35 over 1.11), and
  * beat the global-mean baseline. Every fixture here is generated or
  * inline; none is read from outside the repo and its testdata.
  */
class MlSpec extends SparkSpec {

  // q23's RMSE on planted ratings must stay below this share of the
  // global-mean baseline's. Measured on local[4]: 0.63 with ml.ALS's
  // default 10 blocks, 0.64 with 4.
  private val MaxRmseToBaseline = 0.75

  // The ALS gate's bar on planted ratings. Measured on local[4]: RMSE
  // 0.671 against a global-mean baseline of 0.827 (seed-42 split). 0.81
  // is 1.21× the measured RMSE, within the reference bar's 1.35 / 1.11
  // ≈ 1.22 slack, and below the baseline.
  private val MaxPlantedRmse = 0.81

  /** A planted rank-3 rating model plus N(0, 0.25) noise on 400
    * Zipf-active users × 200 products (~20k rows), written once as an
    * `events` table whose `value` folds back to the planted score
    * through `Tables.ratings`.
    */
  private lazy val plantedDir: String = {
    val (users, rows, rank) = (400, 20000, 3)
    val rnd = new java.util.Random(7L)
    def zipf(n: Int, s: Double): () => Int = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / total)
      () => {
        val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
        math.min(n - 1, if (i >= 0) i else -i - 1)
      }
    }
    val (nextUser, nextProduct) = (zipf(users, 1.0), zipf(Tables.NumProducts, 0.8))
    val uf = Array.fill(users, rank)(rnd.nextGaussian())
    val pf = Array.fill(Tables.NumProducts, rank)(rnd.nextGaussian())
    val events = (0 until rows).map { i =>
      val (u, p) = (nextUser(), nextProduct())
      val dot = (0 until rank).map(k => uf(u)(k) * pf(p)(k)).sum / math.sqrt(rank)
      val score = math.max(0.5, math.min(4.9,
        math.rint((2.7 + 0.9 * dot + 0.25 * rnd.nextGaussian()) * 10) / 10))
      Row(i.toLong * Tables.NumProducts + p,
        new java.sql.Timestamp(1704067200000L + i * 1000L), u.toLong, "view",
        math.round((score - 0.5) * 100) / 100.0, "{}")
    }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val dir = StandingState.managedTempDir("graft_planted_").toString
    spark.createDataFrame(spark.sparkContext.parallelize(events, 4), schema)
      .write.parquet(s"$dir/events.parquet")
    dir
  }

  /** RMSE of predicting `train`'s mean score for every `test` rating. */
  private def globalMeanRmse(train: DataFrame, test: DataFrame): Double = {
    val mean = train.agg(avg("score")).head().getDouble(0)
    math.sqrt(test.agg(avg(pow(col("score") - lit(mean), 2)))
      .head().getDouble(0))
  }

  test("ALS on planted ratings meets the RMSE quality gate") {
    val ratings = Tables.ratings(spark, plantedDir)
      .select("userId", "productId", "score")
    val Array(train, test) = ratings.randomSplit(Array(0.8, 0.2), seed = 42L)
    // The reference's production params (rank=50, lambda=0.01, 5 iters,
    // `OfflineRecommender.scala:66`) under ml.ALS's lambda semantics
    // overfit; this is the tuned regularization the gate holds.
    val m = new ALS()
      .setUserCol("userId").setItemCol("productId").setRatingCol("score")
      .setRank(50).setMaxIter(10).setRegParam(0.3)
      .setSeed(42L).setColdStartStrategy("drop")
      .fit(train)
    val (rmse, base) = (Recommend.evaluateRmse(m, test),
      globalMeanRmse(train, test))
    info(f"held-out RMSE $rmse%.4f vs global-mean baseline $base%.4f")
    assert(rmse <= MaxPlantedRmse,
      f"RMSE $rmse%.4f above the $MaxPlantedRmse quality gate")
    assert(rmse < base, f"RMSE $rmse%.4f not below baseline $base%.4f")
  }

  test("products fixture parses with array categories/tags") {
    // `DataLoader.scala:40-43`'s layout: 7 `^`-separated fields, with
    // `|`-joined categories and tags in the last two
    val lines = Seq(
      "3982^ Wireless Mouse (green) ^1057,1062,564^B009EJN4T2^" +
        "https://img.example/3982.jpg^Peripherals|Mice|Office^mouse|quiet",
      "13316^Notebook^1180^B00CQ8OQG6^https://img.example/13316.jpg^" +
        "Stationery^paper|a5|lined",
      "259637^Desk Lamp^1163,1165^B0087RJQNI^https://img.example/259637.jpg^" +
        "Home|Lighting^lamp")
    val path = StandingState.managedTempDir("graft_products_")
      .resolve("products.csv")
    java.nio.file.Files.write(path, lines.mkString("\n").getBytes("UTF-8"))
    val p = DelimitedSource.products(spark, path.toString)
    assert(p.count() == 3)
    assert(p.filter(col("productId").isNull).isEmpty)
    val r = p.orderBy("productId").head
    assert(r.getAs[Int]("productId") == 3982)
    assert(r.getAs[String]("name") == "Wireless Mouse (green)")
    assert(r.getAs[String]("imageUrl") == "https://img.example/3982.jpg")
    assert(r.getAs[scala.collection.Seq[String]]("categories") ==
      Seq("Peripherals", "Mice", "Office"))
    assert(r.getAs[scala.collection.Seq[String]]("tags") == Seq("mouse", "quiet"))
  }

  test("item similarity matrix: threshold + top-k bounds hold") {
    val sims = Recommend.itemSims.fn(spark, sfTiny)
    assert(sims.filter(col("sim") <= 0.6).isEmpty)
    assert(sims.filter(col("sim") > 1.0 + 1e-9).isEmpty)
    val over = sims.groupBy("product_id").count().filter(col("count") > 20)
    assert(over.isEmpty)
  }

  test("user recs: exactly <=20 per user, scores descending") {
    val recs = Recommend.userRecs.fn(spark, sfTiny)
    val over = recs.groupBy("user_id").count().filter(col("count") > 20)
    assert(over.isEmpty)
    // rank order implies score order within a user
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("rank")
    val bad = recs.withColumn("prev", lag("score", 1).over(w))
      .filter(col("prev").isNotNull && col("score") > col("prev") + 1e-6)
    assert(bad.isEmpty)
  }

  test("ALS blocks are capped at the task slots; q20/q22 stages stay within blocks²") {
    val blocks = math.min(10, spark.sparkContext.defaultParallelism)
    val models = Seq(Recommend.model(spark, sfTiny),
      Recommend.fitOnSplit(spark, sfTiny, Recommend.effRank(spark),
        Recommend.effReg(spark)))
    for (m <- models; f <- Seq(m.userFactors, m.itemFactors))
      assert(f.rdd.getNumPartitions == blocks)
    val widest = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        widest.accumulateAndGet(e.stageInfo.numTasks, math.max)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // a low bound keeps q20/q22 on the block cross product and the
      // factor cross join, the plans whose width this measures
      withPairLimit(1000) {
        Recommend.userRecs.fn(spark, sfTiny).collect()
        Recommend.itemSims.fn(spark, sfTiny).collect()
      }
      ListenerBridge.drain(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(widest.get > 0 && widest.get <= blocks * blocks,
      s"a q20/q22 stage ran ${widest.get} tasks with $blocks ALS blocks")
  }

  private def withPairLimit[T](limit: Long)(body: => T): T = {
    spark.conf.set("spark.graft.exactPairLimit", limit)
    try body finally spark.conf.unset("spark.graft.exactPairLimit")
  }

  private def isLocal(df: DataFrame) =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  test("q20/q22 on the driver equal their distributed plans; a warm q22 runs no job") {
    val (recs, sims) = (Recommend.userRecs.fn(spark, sfTiny),
      Recommend.itemSims.fn(spark, sfTiny))
    // q22 stays on the exact cross join under the low bound
    val (dRecs, dSims) = withPairLimit(1000) {
      val (r, q) = (Recommend.userRecs.fn(spark, sfTiny),
        Recommend.itemSims.fn(spark, sfTiny))
      assert(!isLocal(r) && !isLocal(q))
      assert(q.queryExecution.analyzed.exists {
        case j: Join => j.joinType == Cross
        case _ => false
      })
      (r, q)
    }
    assert(isLocal(recs) && isLocal(sims))
    assert(recs.schema == dRecs.schema)
    assert(sims.schema == dSims.schema)
    assert(sims.collect().toSeq == dSims.collect().toSeq)
    val (got, want) = (recs.collect(), dRecs.collect())
    assert(got.length == want.length && got.nonEmpty)
    for ((g, w) <- got.zip(want)) {
      assert((0 to 2).map(g.get) == (0 to 2).map(w.get), s"$g vs $w")
      val (a, b) = (g.getDouble(3), w.getDouble(3))
      assert(math.abs(a - b) <= 1e-5 * math.max(math.abs(b), 1.0),
        s"score $g vs $w")
    }

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBridge.drain(spark.sparkContext, 10000L)
    spark.sparkContext.addSparkListener(listener)
    try {
      Recommend.itemSims.fn(spark, sfTiny).collect()
      ListenerBridge.drain(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"a warm q22 submitted ${jobs.get} jobs")
  }

  test("q23 at the production params beats the global-mean baseline on planted ratings") {
    val rmse = Recommend.alsRmse.fn(spark, plantedDir).head().getDouble(0)
    val (train, test) = Recommend.evalSplit(spark, plantedDir)
    val base = globalMeanRmse(train, test)
    info(f"held-out RMSE $rmse%.4f vs global-mean baseline $base%.4f")
    assert(rmse < MaxRmseToBaseline * base,
      f"RMSE $rmse%.4f not below $MaxRmseToBaseline × baseline $base%.4f")
  }

  test("quality classifier: held-out AUC >= 0.85, outputs consistent") {
    val auc = ml.QualityModel.heldOutAuc(spark, sfSmall)
    assert(auc >= 0.85, s"AUC $auc")
    val out = ml.QualityModel.classifier.fn(spark, sfSmall)
    // predicted must be the argmax of p_good (threshold 0.5)
    val bad = out.filter(
      (col("p_good") > 0.5 && col("predicted") === 0) ||
        (col("p_good") < 0.5 && col("predicted") === 1))
    assert(bad.isEmpty, bad.collect().take(3).mkString(","))
    info(f"quality classifier held-out AUC = $auc%.4f")
  }
}
