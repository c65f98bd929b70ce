package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.streaming.{Rescoring, StreamPipeline}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** The stream half of `refresh_stream`: an open loop. One generator
  * thread appends rating-log lines to a `MemoryStream` on a fixed
  * schedule, first at the nominal rate, then at stepped rates, feeding
  * `StreamPipeline.start` (2 s micro-batches, recent-K state, rescoring
  * against the last refresh's q22 sims, upsert of every user's recs).
  *
  * An event's latency runs from its scheduled send time to the end of
  * the trigger that processed it, so a stall also delays the events
  * queued behind it.
  */
object Stream {

  final case class Phase(name: String, rate: Double, seconds: Double)

  /** A warm-up at the nominal rate (excluded from every figure: the
    * first triggers pay code generation and JIT), then the measured
    * phases, which take 80% of the run's seconds: the nominal phase
    * (60%, six 2 s triggers at 20 s), then one step at four times the
    * nominal rate (20%, two trigger intervals at 20 s, so that at least
    * one trigger reads only the step's events). The nominal phase is
    * also the first step.
    */
  def phases(seconds: Double): Seq[Phase] =
    Seq(Phase("warmup", NominalRate, WarmupS),
      Phase("nominal", NominalRate, 0.6 * seconds)) ++
      StepFactors.map(f => Phase(s"step_${f}x", NominalRate * f, 0.2 * seconds))
  val WarmupS = 3.0
  val NominalRate = 100.0
  val StepFactors: Seq[Int] = Seq(4)

  /** Events sent per phase of a run of `seconds`. */
  def eventsPerPhase(seconds: Double): Seq[Int] =
    phases(seconds).map(p => math.round(p.rate * p.seconds).toInt)

  /** Static side of the stream: the last refresh's q22 sims and the
    * rated set of its snapshot.
    */
  final case class Side(sims: DataFrame, rated: DataFrame, users: Int)

  def side(spark: SparkSession, dir: String, simRows: Array[Row]): Side = {
    import spark.implicits._
    val sims = simRows.toSeq
      .map(r => (r.getLong(0).toInt, r.getLong(1).toInt, r.getDouble(2)))
      .toDF("pa", "pb", "sim")
    val rated = graft.Tables.cachedRatings(spark, dir)
      .select("userId", "productId").distinct().localCheckpoint()
    Side(sims, rated, Offline.Spec.users)
  }

  /** One `addData` call: its MemoryStream offset and the indices of its
    * events.
    */
  final case class Chunk(offset: Long, from: Int, until: Int)

  /** Latencies per phase, the backlog at each phase's end, every
    * trigger's progress, what was sent, the phase of each event, and how
    * late each chunk was added.
    */
  final case class Result(latMs: Map[String, Array[Double]],
      backlogEnd: Map[String, Long], progress: Seq[StreamingQueryProgress],
      chunks: Seq[Chunk], events: Array[Gen.LogEvent], phaseOf: Array[Int],
      genLagMs: Array[Double])

  private class Progress extends StreamingQueryListener {
    val all = ArrayBuffer[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      all.synchronized { all += e.progress }
  }

  /** End of a trigger, wall-clock millis. */
  def endMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli + durationMs(p)

  def durationMs(p: StreamingQueryProgress): Long =
    p.durationMs.getOrDefault("triggerExecution", 0L).longValue

  def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).map(_.trim.toLong).getOrElse(-1L)

  def startOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.startOffset).map(_.trim.toLong).getOrElse(-1L)

  def run(spark: SparkSession, side: Side, seed: Long, seconds: Double,
      work: String): Result = {
    import spark.implicits._
    val plan = phases(seconds)
    val nPer = eventsPerPhase(seconds)
    val events = Gen.ratingLog(seed, nPer.sum, side.users)
    val input = MemoryStream[String](spark)
    val listener = new Progress
    spark.streams.addListener(listener)
    val query = StreamPipeline.start(spark, input.toDF(), side.sims, side.rated,
      s"$work/recs", s"$work/ckpt")
    val nanoToMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
    // due times: phases back to back, evenly spaced within each phase
    val start = System.nanoTime() + 500L * 1000000L
    val dueNs = new Array[Long](events.length)
    val phaseOf = new Array[Int](events.length)
    var i = 0
    var phaseStart = start
    plan.zip(nPer).zipWithIndex.foreach { case ((p, n), pi) =>
      (0 until n).foreach { k =>
        dueNs(i) = phaseStart + (k * 1e9 / p.rate).toLong
        phaseOf(i) = pi
        i += 1
      }
      phaseStart += (p.seconds * 1e9).toLong
    }
    val phaseEndNs = plan.scanLeft(start)((s, p) => s + (p.seconds * 1e9).toLong).tail
    val chunks = ArrayBuffer[Chunk]()
    val lag = ArrayBuffer[Double]()
    val backlogEnd = scala.collection.mutable.Map[String, Long]()
    // the generator: the only thread that adds data
    val gen = new Thread(() => {
      var next = 0
      var phase = 0
      while (next < events.length) {
        val now = System.nanoTime()
        if (dueNs(next) > now)
          Thread.sleep(math.max(1L, (dueNs(next) - now) / 1000000L))
        else {
          var until = next
          val t = System.nanoTime()
          while (until < events.length && dueNs(until) <= t &&
              phaseOf(until) == phaseOf(next)) until += 1
          val off = input.addData(events.slice(next, until).map(_.line).toSeq)
            .json().trim.toLong
          val added = System.nanoTime()
          chunks.synchronized(chunks += Chunk(off, next, until))
          lag += (added - dueNs(next)) / 1e6
          next = until
        }
        // at each phase end (the last one included: wait for it), record
        // the backlog
        if (next == events.length)
          while (System.nanoTime() < phaseEndNs.last) Thread.sleep(1)
        while (phase < plan.length && System.nanoTime() >= phaseEndNs(phase)) {
          val sent = chunks.synchronized(chunks.lastOption.map(_.until).getOrElse(0))
          val backlog = (sent - processedUpTo(listener, chunks)).toLong
          backlogEnd(plan(phase).name) = backlog
          phase += 1
        }
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    try {
      gen.start()
      gen.join()
      query.processAllAvailable()
      HeapSampler.checkpoint()
    } finally {
      query.stop()
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 30000)
      spark.streams.removeListener(listener)
    }
    val progress = listener.all.synchronized(listener.all.toList)
    // completion wall time of each chunk: end of the first trigger
    // whose end offset covers it
    val sent = chunks.toList
    val data = progress.filter(_.numInputRows > 0).sortBy(_.batchId)
    val lat = Array.fill(events.length)(Double.NaN)
    sent.foreach { c =>
      data.find(p => endOffset(p) >= c.offset).foreach { p =>
        val done = endMs(p)
        (c.from until c.until).foreach { e =>
          lat(e) = (done - (dueNs(e) / 1000000L + nanoToMs)).toDouble
        }
      }
    }
    val latByPhase = plan.indices.map { pi =>
      plan(pi).name -> (0 until events.length).filter(e => phaseOf(e) == pi &&
        e < sent.lastOption.map(_.until).getOrElse(0)).map(lat(_)).toArray.sorted
    }.toMap
    Result(latByPhase, backlogEnd.toMap, progress, sent, events, phaseOf,
      lag.toArray)
  }

  /** The triggers that read only phase `pi`'s events. */
  def ownBatches(r: Result, pi: Int): Seq[StreamingQueryProgress] =
    r.progress.filter(_.numInputRows > 0).filter { p =>
      val cs = r.chunks.filter(c => c.offset > startOffset(p) && c.offset <= endOffset(p))
      cs.nonEmpty && cs.forall(c => r.phaseOf(c.from) == pi)
    }

  /** No growing backlog at phase `pi`'s rate: the phase has a trigger of
    * its own, and its own triggers, taken together, processed what was
    * sent while they ran, less at most one trigger interval's worth. A
    * stream that keeps up reads in each trigger what arrived during the
    * one before, so the sums differ only by how the first and the last
    * trigger's durations differ; a stream that falls behind runs ever
    * longer triggers, and its deficit grows with each.
    */
  def sustains(r: Result, pi: Int, rate: Double): Boolean = {
    val own = ownBatches(r, pi)
    val deficit = rate * own.map(durationMs).sum / 1000 - own.map(_.numInputRows).sum
    own.nonEmpty && deficit <= rate * TriggerS
  }

  /** `StreamPipeline`'s trigger interval. */
  val TriggerS = 2.0

  private def processedUpTo(l: Progress, chunks: ArrayBuffer[Chunk]): Int = {
    val maxOff = l.all.synchronized(
      if (l.all.isEmpty) -1L else l.all.map(endOffset).max)
    chunks.synchronized(chunks.filter(_.offset <= maxOff).lastOption
      .map(_.until).getOrElse(0))
  }

  /** The final recent-K state per user, as `recentRatings` keeps it:
    * newest first by event time (one second per event, so the order is
    * total).
    */
  def finalState(spark: SparkSession, events: Seq[Gen.LogEvent]): DataFrame = {
    import spark.implicits._
    events.groupBy(_.userId).toSeq.flatMap { case (u, es) =>
      es.sortBy(-_.tsSec).take(StreamPipeline.RecentK).map(e => (u, e.productId, e.score))
    }.toDF("userId", "productId", "score")
  }

  /** Streamed recs equal `Rescoring.rescore` of the same final state. */
  def check(spark: SparkSession, side: Side, events: Seq[Gen.LogEvent],
      work: String): (Boolean, String) = {
    def rows(df: DataFrame): Set[(Int, Int, Double, Int)] = df
      .select(col("userId").cast("int"), col("candidate").cast("int"),
        col("rec_score").cast("double"), col("rank").cast("int"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2), r.getInt(3)))
      .toSet
    val expected = rows(Rescoring.rescore(finalState(spark, events), side.sims,
      side.rated))
    val streamed = rows(spark.read.parquet(s"$work/recs"))
    val ok = expected == streamed && expected.nonEmpty
    (ok, s"streamed recs (${streamed.size} rows) equal rescore of the final " +
      s"recent-K state (${expected.size} rows); differing rows: " +
      s"${(expected diff streamed).size + (streamed diff expected).size}")
  }

  /** Replay one batch's shape through the public rescore and upsert:
    * the users of the median-sized batch, with their final state.
    * Returns (rescore seconds, upsert seconds).
    */
  def replay(spark: SparkSession, side: Side, r: Result, work: String,
      t: Tracer): (Double, Double) = {
    val data = r.progress.filter(_.numInputRows > 0).sortBy(_.numInputRows)
    val mid = data(data.length / 2)
    val hi = endOffset(mid)
    val lo = startOffset(mid)
    val users = r.chunks.filter(c => c.offset > lo && c.offset <= hi)
      .flatMap(c => (c.from until c.until).map(r.events(_).userId)).toSet
    val state = finalState(spark, r.events.filter(e => users(e.userId)).toSeq)
      .localCheckpoint()
    spark.read.parquet(s"$work/recs").write.mode("overwrite").parquet(s"$work/replay")
    def timed(name: String)(body: => Unit): Double = {
      t.span(name)(body)
      t.named(name).last._1.seconds
    }
    val rescoreS = timed("streaming.rescore")(
      Materialize.hashed(Rescoring.rescore(state, side.sims, side.rated)))
    val recs = Rescoring.rescore(state, side.sims, side.rated).localCheckpoint()
    (rescoreS, timed("streaming.upsert")(
      StreamPipeline.upsertByKey(recs, "userId", s"$work/replay")))
  }
}
