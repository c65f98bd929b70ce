package perfbench

import graft.Tables
import graft.ml.Recommend
import graft.ops.Statistics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** The refresh half of `refresh_stream`: a closed loop of nightly
  * refreshes, each over a new seeded `events` snapshot in its own
  * directory, so every `(session, dir)` standing cache misses and the
  * build is what gets timed. One refresh = ratings derivation, q01–q03 statistics, the
  * ALS fit, q20 top-20 user recs and q22 item similarity at 0.6, every
  * result collected in full.
  */
object Offline {

  val Spec: Gen.EventsSpec = Gen.EventsSpec(rows = 20000, users = 400)

  /** Snapshot rows for iteration `i`: planted low-rank ratings, so the
    * ALS fit has real structure to find (see [[Gen.planted]]).
    */
  def snapshot(seed: Long, i: Int): Array[Row] =
    Gen.planted(Gen.events(seed, 1000L + i, Spec), seed, Spec.users)

  final case class Check(ok: Boolean, why: String)

  /** One refresh of the snapshot at `dir`; every call is a span. Returns
    * the checks and q22's rows, which the stream serves from.
    */
  def refresh(spark: SparkSession, dir: String, t: Tracer, calls: Calls)
      : (Seq[Check], Array[Row]) = t.span("offline.refresh") {
    val checks = Seq.newBuilder[Check]
    var simRows = Array.empty[Row]
    val nRatings = calls("sources.ratings") {
      t.span("sources.ratings")(Tables.cachedRatings(spark, dir).count())
    }
    calls("ops.stats") {
      t.span("ops.stats") {
        val q01 = Materialize.hashed(Statistics.rateMoreProducts.fn(spark, dir))._1
        Materialize.hashed(Statistics.rateMoreRecently.fn(spark, dir))
        Materialize.hashed(Statistics.averageScore.fn(spark, dir))
        checks += Check(nRatings.contains(q01.map(_.getLong(1)).sum),
          "q01 counts sum to the snapshot's rows")
      }
    }
    calls("ml.als_fit")(t.span("ml.als_fit")(Recommend.model(spark, dir)))
    calls("ml.user_recs") {
      val recs = t.span("ml.user_recs")(
        Materialize.hashed(Recommend.userRecs.fn(spark, dir))._1)
      val perUser = recs.groupBy(_.getLong(0)).values.map(_.length)
      val users = Tables.cachedRatings(spark, dir)
        .select("userId").distinct().count()
      checks += Check(perUser.size == users && perUser.forall(_ == Recommend.TopK),
        s"q20 gives ${Recommend.TopK} recs to each of $users users")
    }
    calls("ml.item_sims") {
      val sims = t.span("ml.item_sims")(
        Materialize.hashed(Recommend.itemSims.fn(spark, dir))._1)
      checks += Check(sims.forall(r => r.getDouble(2) > Recommend.SimThreshold &&
          r.getInt(3) <= Recommend.TopK),
        "q22 keeps sims above 0.6, at most 20 per product")
      simRows = sims
    }
    (checks.result(), simRows)
  }

  /** q23's held-out RMSE and the global-mean baseline on the same
    * seed-42 split.
    */
  def rmse(spark: SparkSession, dir: String, calls: Calls): Option[(Double, Double)] =
    calls("ml.rmse") {
      val rmse = Recommend.alsRmse.fn(spark, dir).head().getDouble(0)
      val (train, test) = Recommend.evalSplit(spark, dir)
      val mean = train.agg(avg("score")).head().getDouble(0)
      val base = math.sqrt(test.agg(avg(pow(col("score") - lit(mean), 2)))
        .head().getDouble(0))
      (rmse, base)
    }
}
