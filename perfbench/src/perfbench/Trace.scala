package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a module. Times are epoch-relative nanoseconds
  * from `System.nanoTime`; `parent` is the index of the enclosing span
  * or -1.
  */
final case class Span(name: String, start: Long, end: Long, parent: Int,
    runId: String, traced: Boolean = false) {
  def seconds: Double = (end - start) / 1e9
}

/** Engine-side cost of one span: what the Spark listener bus and the
  * query-execution listener saw while the span was open.
  */
final case class Cost(jobs: Int, tasks: Int, taskS: Double,
    shuffleMb: Double, spillMb: Double, jobBusyS: Double, planS: Double,
    worstSkew: Double) {
  /** Two spans' costs together; skew is the worse of the two. */
  def +(o: Cost): Cost = Cost(jobs + o.jobs, tasks + o.tasks,
    taskS + o.taskS, shuffleMb + o.shuffleMb, spillMb + o.spillMb,
    jobBusyS + o.jobBusyS, planS + o.planS, math.max(worstSkew, o.worstSkew))
}

object Cost {
  val zero: Cost = Cost(0, 0, 0, 0, 0, 0, 0, 0)
}

/** Listener-backed recorder. Collects job intervals, per-stage task
  * times, shuffle and spill bytes, and Catalyst phase times, so each
  * span can be split into planning, job execution and driver-side
  * work. With `enabled = false` it records nothing and attaches no
  * listener: spans then only time their body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean, val runId: String) {
  private val lock = new Object
  private val spans = ArrayBuffer[Span]()
  private val stack = ArrayBuffer[Int]()
  // listener state, guarded by `lock`
  private val jobIntervals = ArrayBuffer[(Long, Long)]()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val stageTasks = scala.collection.mutable.Map[Int, ArrayBuffer[Long]]()
  private var shuffleBytes = 0L
  private var spillBytes = 0L
  private val planS = ArrayBuffer[Double]()
  private val costs = scala.collection.mutable.Map[Int, Cost]()
  /** Wall seconds spent inside the tracer's own drains and snapshots. */
  var ownS = 0.0
  /** With `enabled`, whether spans opened now record engine cost; turned
    * off for alternate units so the run can compare traced and untraced
    * walls.
    */
  var active: Boolean = enabled

  private val sc: SparkContext = spark.sparkContext
  // listener event times are wall-clock millis; spans are nanoTime
  private val nanoOffset = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def wallMs(nano: Long): Long = (nano + nanoOffset) / 1000000L

  private object Bus extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized { jobStart(e.jobId) = e.time }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer()) += m.executorRunTime
        shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
  }

  private object Qe extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      lock.synchronized { planS += ms / 1e3 }
    }
  }

  if (enabled) {
    sc.addSparkListener(Bus)
    spark.listenerManager.register(Qe)
  }

  def drain(): Unit = if (enabled) {
    val t0 = System.nanoTime()
    org.apache.spark.graft.ListenerBridge.drain(sc, 30000)
    ownS += (System.nanoTime() - t0) / 1e9
  }

  private case class Mark(tasks: Map[Int, Int], shuffle: Long, spill: Long,
      jobs: Int, plans: Int)

  private def mark(): Mark = lock.synchronized {
    Mark(stageTasks.map { case (k, v) => k -> v.length }.toMap,
      shuffleBytes, spillBytes, jobIntervals.length, planS.length)
  }

  /** Time `body` as span `name`. When tracing, the listener bus is
    * drained at both edges so the span's engine cost is exactly the
    * work its body caused.
    */
  def span[T](name: String)(body: => T): T = {
    val on = enabled && active
    val before = if (on) { drain(); mark() } else null
    val parent = lock.synchronized(stack.lastOption.getOrElse(-1))
    val idx = lock.synchronized {
      spans += Span(name, System.nanoTime(), 0L, parent, runId, on)
      stack += spans.length - 1
      spans.length - 1
    }
    val start = spans(idx).start
    try body
    finally {
      val end = System.nanoTime()
      lock.synchronized {
        spans(idx) = spans(idx).copy(end = end)
        stack.remove(stack.length - 1)
      }
      if (on) {
        drain()
        val t0 = System.nanoTime()
        lock.synchronized { costs(idx) = costSince(before, start, end) }
        ownS += (System.nanoTime() - t0) / 1e9
      }
    }
  }

  private def costSince(b: Mark, start: Long, end: Long): Cost = {
    val newTasks = stageTasks.toSeq.flatMap { case (sid, ts) =>
      val from = b.tasks.getOrElse(sid, 0)
      if (ts.length > from) Some(sid -> ts.drop(from).toSeq) else None
    }.toMap
    val jobs = jobIntervals.drop(b.jobs)
    val (s0, e0) = (wallMs(start), wallMs(end))
    val busy = Tracer.unionMs(jobs.map { case (s, e) =>
      (math.max(s, s0), math.min(e, e0)) }.toSeq) / 1e3
    Cost(jobs = jobs.length, tasks = newTasks.values.map(_.length).sum,
      taskS = newTasks.values.flatten.sum / 1e3,
      shuffleMb = (shuffleBytes - b.shuffle) / 1e6,
      spillMb = (spillBytes - b.spill) / 1e6, jobBusyS = busy,
      planS = planS.drop(b.plans).sum, worstSkew = Tracer.worstSkew(newTasks))
  }

  def allSpans: Seq[Span] = lock.synchronized(spans.toList)
  /** Index of the span opened last. */
  def lastIndex: Int = lock.synchronized(spans.length - 1)
  def cost(idx: Int): Cost = lock.synchronized(costs.getOrElse(idx, Cost.zero))

  /** Spans named `name`, with their engine cost. */
  def named(name: String): Seq[(Span, Cost)] = lock.synchronized {
    spans.indices.filter(i => spans(i).name == name && spans(i).end > 0)
      .map(i => (spans(i), costs.getOrElse(i, Cost.zero)))
  }

  /** Driver-side seconds of a span: wall not covered by a running job
    * and not spent in Catalyst's analysis/optimisation/planning phases.
    */
  def driverS(s: Span, c: Cost): Double =
    math.max(0.0, s.seconds - c.jobBusyS - c.planS)

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(Bus)
    spark.listenerManager.unregister(Qe)
  }

  /** Spans as JSON lines, written when the run ends. */
  def spansJson(origin: Long): Seq[String] = allSpans.zipWithIndex.map {
    case (s, i) =>
      val c = cost(i)
      Json.obj(Seq("name" -> Json.str(s.name),
        "start" -> Json.num((s.start - origin) / 1e9),
        "end" -> Json.num((s.end - origin) / 1e9),
        "parent" -> s.parent.toString, "run_id" -> Json.str(s.runId),
        "traced" -> s.traced.toString,
        "jobs" -> c.jobs.toString, "task_s" -> Json.num(c.taskS),
        "plan_s" -> Json.num(c.planS), "shuffle_mb" -> Json.num(c.shuffleMb),
        "spill_mb" -> Json.num(c.spillMb)))
  }
}

object Tracer {
  /** Total length of the union of `[start, end)` intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Worst max/median task time over the stages that hold real work:
    * at least 4 tasks and at least 5% of the span's task time. Tiny
    * stages show meaningless ratios. Falls back to 1.0 (no skew).
    */
  def worstSkew(stageTasks: Map[Int, Seq[Long]]): Double = {
    val total = stageTasks.values.flatten.sum.toDouble
    val ratios = stageTasks.values.flatMap { ts =>
      val sorted = ts.sorted
      val med = sorted(sorted.length / 2)
      if (ts.length < 4 || ts.sum < total * 0.05 || med <= 0) None
      else Some(sorted.last.toDouble / med)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
