package graft

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one per suite (lazy), UTC,
  * small shuffle parallelism.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession =
    Scale.sessionBuilder(getClass.getSimpleName, "4")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft_warehouse_${java.util.UUID.randomUUID()}")
      .getOrCreate()

  val sfTiny = "/root/testdata/sf0.001"
  val sfSmall = "/root/testdata/sf0.01"

  /** `body` under `spark.graft.exactPairLimit = limit`. */
  def withPairLimit[T](limit: Long)(body: => T): T = {
    spark.conf.set("spark.graft.exactPairLimit", limit)
    try body finally spark.conf.unset("spark.graft.exactPairLimit")
  }

  /** True when `df` is a local relation: a driver-side answer. */
  def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LocalRelation]

  /** Spark jobs submitted while `body` runs. */
  def jobsDuring(body: => Any): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ListenerBridge.drain(spark.sparkContext, 10000L)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBridge.drain(spark.sparkContext, 10000L)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }
}
