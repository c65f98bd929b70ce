package graft

import java.sql.Timestamp
import java.time.Instant

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** q01–q03 are rolled up on the driver from one shared (month,
  * product) aggregate. These tests hold the roll-ups to the three
  * distributed plans they replaced: same schemas, same rows, same
  * order — and to the sharing itself: once one of them has run, the
  * other two submit no job.
  */
class StatisticsSpec extends SparkSpec {
  import ops.Statistics.{averageScore, rateMoreProducts, rateMoreRecently}

  private val prodId = (col("event_id") % Tables.NumProducts).as("product_id")

  // The three plans q01–q03 ran as before they shared an aggregate.
  private val reference: Seq[(QueryDef, String => DataFrame)] = Seq(
    rateMoreProducts -> (d => Tables.events(spark, d)
      .select(prodId)
      .groupBy("product_id").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("product_id"))),
    rateMoreRecently -> (d => Tables.events(spark, d)
      .select(
        date_format(col("ts"), "yyyyMM").cast("int").as("yearmonth"),
        prodId)
      .groupBy("yearmonth", "product_id").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("yearmonth"), desc("cnt"), asc("product_id"))),
    averageScore -> (d => Tables.events(spark, d)
      .select(prodId, col("value"))
      .groupBy("product_id")
      .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_score"))
      .orderBy("product_id")))

  private def assertSameAsReference(d: String): Unit =
    for ((q, plan) <- reference) {
      val (got, want) = (q.fn(spark, d), plan(d))
      assert(got.schema == want.schema, q.name)
      val rows = got.collect().toSeq
      assert(rows.nonEmpty, q.name)
      assert(rows == want.collect().toSeq, q.name)
    }

  test("q01–q03 roll-ups equal their distributed plans at sf0.001") {
    assertSameAsReference(sfTiny)
  }

  test("q01–q03 roll-ups equal their distributed plans across months, ties and nulls") {
    def at(iso: String) = Timestamp.from(Instant.parse(iso))
    val (jan, feb, dec) = (at("2024-01-31T23:59:59Z"),
      at("2024-02-01T00:00:00Z"), at("2023-12-15T12:00:00Z"))
    val n = Tables.NumProducts.toLong
    def ev(id: java.lang.Long, ts: Timestamp, value: java.lang.Double) =
      Row(id, ts, 1L, "view", value, "{}")
    val events = Seq(
      // products 1 and 2 tie on cnt overall and within January
      ev(1L, jan, 4.5), ev(n + 1, jan, 3.25), ev(2 * n + 1, feb, 0.07),
      ev(2L, jan, 1.1), ev(n + 2, jan, 2.2), ev(2 * n + 2, dec, 5.0),
      // product 3: a null value among non-null ones
      ev(3L, feb, null), ev(n + 3, feb, 1.99),
      // product 7: every value null, so its sum and average are null
      ev(7L, dec, null), ev(n + 7, jan, null),
      // a negative key, a null key and a null month
      ev(-5L, feb, 2.5), ev(null, jan, 3.0), ev(null, feb, 0.5),
      ev(4L, null, 1.25), ev(n + 4, jan, 0.75))
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val dir = StandingState.managedTempDir("graft_stats_").toString
    spark.createDataFrame(spark.sparkContext.parallelize(events, 3), schema)
      .write.parquet(s"$dir/events.parquet")
    assertSameAsReference(dir)
  }

  test("after q01 runs, q02 and q03 submit no job") {
    rateMoreProducts.fn(spark, sfTiny).collect()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBridge.drain(spark.sparkContext, 10000L)
    spark.sparkContext.addSparkListener(listener)
    try {
      rateMoreRecently.fn(spark, sfTiny).collect()
      averageScore.fn(spark, sfTiny).collect()
      ListenerBridge.drain(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get == 0, s"q02 and q03 after q01 submitted ${jobs.get} jobs")
  }
}
