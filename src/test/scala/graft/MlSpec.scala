package graft

import graft.ml.{Planted, Recommend}
import graft.sources.DelimitedSource
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.functions._

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

  private def plantedDir: String = Planted.dir(spark)

  test("ALS on planted ratings meets the RMSE quality gate") {
    val (rmse, base) = Planted.heldOutRmse(spark)
    info(f"held-out RMSE $rmse%.4f vs global-mean baseline $base%.4f")
    assert(rmse <= Planted.MaxRmse,
      f"RMSE $rmse%.4f above the ${Planted.MaxRmse} quality gate")
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
    // a bound below sfTiny's 873 ratings (and its 80% split) keeps the
    // fits on ALS.fit, and q20/q22 on the block cross product and the
    // factor cross join: the plans whose width this measures
    withPairLimit(500) {
      val models = Seq(Recommend.model(spark, sfTiny),
        Recommend.fitOnSplit(spark, sfTiny, Recommend.effRank(spark),
          Recommend.effReg(spark)))
      for (m <- models; f <- Seq(m.userFactors, m.itemFactors))
        assert(!onDriver(f) && f.rdd.getNumPartitions == blocks)
    }
    val widest = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        widest.accumulateAndGet(e.stageInfo.numTasks, math.max)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      withPairLimit(500) {
        Recommend.userRecs.fn(spark, sfTiny).collect()
        Recommend.itemSims.fn(spark, sfTiny).collect()
      }
      ListenerBridge.drain(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(widest.get > 0 && widest.get <= blocks * blocks,
      s"a q20/q22 stage ran ${widest.get} tasks with $blocks ALS blocks")
  }

  // a driver fit's factor tables read only local relations
  private def onDriver(factors: DataFrame) =
    factors.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LocalRelation])

  test("q20/q22 on the driver equal their distributed plans; a warm q22 runs no job") {
    val (recs, sims) = (Recommend.userRecs.fn(spark, sfTiny),
      Recommend.itemSims.fn(spark, sfTiny))
    // sfTiny's 873 ratings still fit the low bound, so both sides score
    // one driver fit's factors, and q20 runs `recommendForAllUsers` over
    // local factor tables, as at sf0.1; q22 stays on the exact cross join
    val (dRecs, dSims) = withPairLimit(1000) {
      val (r, q) = (Recommend.userRecs.fn(spark, sfTiny),
        Recommend.itemSims.fn(spark, sfTiny))
      assert(onDriver(Recommend.model(spark, sfTiny).userFactors))
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
    assertSameRecs(recs.collect(), dRecs.collect())

    val jobs = jobsDuring(Recommend.itemSims.fn(spark, sfTiny).collect())
    assert(jobs == 0, s"a warm q22 submitted $jobs jobs")
  }

  /** q20's rows agree: same (user, rank, product), scores within 1e-5. */
  private def assertSameRecs(got: Array[Row], want: Array[Row]): Unit = {
    assert(got.length == want.length && got.nonEmpty)
    for ((g, w) <- got.zip(want)) {
      assert((0 to 2).map(g.get) == (0 to 2).map(w.get), s"$g vs $w")
      val (a, b) = (g.getDouble(3), w.getDouble(3))
      assert(math.abs(a - b) <= 1e-5 * math.max(math.abs(b), 1.0),
        s"score $g vs $w")
    }
  }

  private def sortedFactors(df: DataFrame): Seq[(Int, Seq[Float])] =
    df.collect().map(r => (r.getInt(0), r.getSeq[Float](1).toSeq)).toSeq
      .sortBy(_._1)

  test("ALS fits on the driver while the ratings fit the bound, matching ALS.fit") {
    for (dir <- Seq(sfTiny, plantedDir)) {
      val (m, recs, rmse) = (Recommend.model(spark, dir),
        Recommend.userRecs.fn(spark, dir).collect(),
        Recommend.alsRmse.fn(spark, dir).head().getDouble(0))
      // below both sides' ratings: ALS.fit and q20's block cross product
      val (dm, dRecs, dRmse) = withPairLimit(500) {
        (Recommend.model(spark, dir),
          Recommend.userRecs.fn(spark, dir).collect(),
          Recommend.alsRmse.fn(spark, dir).head().getDouble(0))
      }
      for ((f, df) <- Seq(m.userFactors -> dm.userFactors,
          m.itemFactors -> dm.itemFactors)) {
        assert(onDriver(f) && !onDriver(df))
        assert(f.schema == df.schema)
        val (got, want) = (sortedFactors(f), sortedFactors(df))
        assert(got.map(_._1) == want.map(_._1))
        val gap = got.zip(want).flatMap { case ((_, a), (_, b)) =>
          a.zip(b).map { case (x, y) => math.abs(x - y) } }.max
        info(f"$dir: max |Δ| factor $gap%.2e")
        assert(gap <= 1e-5, s"$dir: factors differ by $gap")
      }
      assertSameRecs(recs, dRecs)
      assert(math.abs(rmse - dRmse) <= 1e-5, s"$dir: q23 $rmse vs $dRmse")
    }
  }

  test("a driver fit submits only its ratings collect, and q20 after it none") {
    val dir = Planted.write(spark)
    Tables.cachedRatings(spark, dir)
    val fit = jobsDuring(Recommend.model(spark, dir))
    info(s"the driver fit submitted $fit jobs")
    // the grouped ratings' shuffle-map job and the bounded collect's
    assert(fit <= 2, s"the fit submitted $fit jobs")
    val recs = jobsDuring(Recommend.userRecs.fn(spark, dir).collect())
    assert(recs == 0, s"q20 after a driver fit submitted $recs jobs")
  }

  test("q23 at the production params beats the global-mean baseline on planted ratings") {
    val rmse = Recommend.alsRmse.fn(spark, plantedDir).head().getDouble(0)
    val (train, test) = Recommend.evalSplit(spark, plantedDir)
    val base = Planted.globalMeanRmse(train, test)
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
