package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The benchmark's entry point:
  *
  *   perfbench.Main --workload <refresh_stream|catalog_serve> --seed <n>
  *     --seconds <s> --trace <0|1> --work <dir>
  *     [--latency-limit-ms <ms>] [--cpus <n>] [--trace-out <file>]
  *
  * Prints one detail line (`PERFBENCH_DETAIL {...}`: every metric under
  * its workload-specific name, the inputs' properties, the checks and
  * any errors) and, as the last line, the result object. Exits 1 when an
  * operation failed or a correctness check did not hold.
  *
  * Both workloads report the same end-to-end metrics, each meaning the
  * workload's own form of it (see perfbench/README.md):
  * `setup_s`, `build_s` (cold first pass), `serve_s` (median warm
  * pass) and `peak_heap_mb`. Per-operation latencies are in the detail
  * line.
  */
object Main {

  /** Set-up is repeated this many times per run; `setup_s` is the median. */
  val SetupReps = 3

  final class Out {
    val e2e = LinkedHashMap[String, (Double, String)]()
    val layer = LinkedHashMap[String, (Double, String)]()
    val detail = LinkedHashMap[String, Double]()
    val inputs = LinkedHashMap[String, Map[String, Double]]()
    val checks = ArrayBuffer[(Boolean, String)]()
  }

  def main(args: Array[String]): Unit = {
    val a = Cli.parse(args)
    val workload = a("workload")
    require(Seq("refresh_stream", "catalog_serve").contains(workload),
      s"unknown workload: $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val cpus = a.getOrElse("cpus", "4").toInt
    val limitMs = a.getOrElse("latency-limit-ms", "8000").toDouble
    val runId = s"$workload-$seed-${if (traced) "traced" else "plain"}"
    Files.createDirectories(Paths.get(work))
    val calls = new Calls
    val out = new Out
    // repeated set-up: a fresh session and freshly written inputs each
    // time; the workload then runs on the last one
    var spark: SparkSession = null
    var tracer: Tracer = null
    var in = ""
    val repS = (1 to SetupReps).map { rep =>
      if (spark != null) { tracer.close(); spark.stop() }
      val t0 = System.nanoTime()
      spark = Session.start(cpus, s"$work/spark-$rep")
      tracer = new Tracer(spark, traced, runId)
      in = s"$work/in-$rep"
      if (workload == "refresh_stream") {
        val rows = Offline.snapshot(seed, 0)
        Gen.writeEvents(spark, in, rows)
        out.inputs("snapshot") = Gen.eventsProps(rows)
      } else
        Gen.catalog(spark, in, seed).foreach { case (k, v) => out.inputs(k) = v }
      (System.nanoTime() - t0) / 1e9
    }
    out.detail("setup_s") = Stats.median(repS)
    out.e2e("setup_s") = (Stats.median(repS), "s")
    val origin = System.nanoTime()
    val gc0 = Heap.gcMs()
    try {
      if (workload == "refresh_stream")
        runRefreshStream(spark, in, seed, seconds, limitMs, work, tracer, calls, out)
      else runCatalog(spark, in, seed, tracer, calls, out)
    } finally {
      tracer.close()
      HeapSampler.checkpoint()
    }
    out.detail("gc_ms") = Heap.gcMs() - gc0
    out.detail("peak_heap_mb") = HeapSampler.peakMb
    out.e2e("peak_heap_mb") = (HeapSampler.peakMb, "MB")
    out.detail("failed_ratio") = calls.failed.toDouble / math.max(1, calls.attempted)
    if (traced) {
      val units = math.max(1.0, out.detail.getOrElse("trace.units", 1.0))
      out.layer("trace_overhead_ms") = (tracer.ownS * 1e3 / units, "ms")
      a.get("trace-out").foreach { f =>
        Files.createDirectories(Paths.get(f).toAbsolutePath.getParent)
        Files.write(Paths.get(f), tracer.spansJson(origin).mkString("", "\n", "\n")
          .getBytes("UTF-8"))
      }
    }
    spark.stop()
    val correct = out.checks.nonEmpty && out.checks.forall(_._1)
    println("PERFBENCH_DETAIL " + Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "traced" -> traced.toString,
      "metrics" -> Json.nums(out.detail.toMap),
      "inputs" -> Json.obj(out.inputs.map { case (k, v) => k -> Json.nums(v) }),
      "checks" -> Json.arr(out.checks.map { case (ok, why) =>
        Json.obj(Seq("ok" -> ok.toString, "check" -> Json.str(why))) }),
      "errors" -> Json.arr(calls.errors.map(Json.str)))))
    val metrics = if (traced) out.layer else out.e2e
    println(Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> calls.attempted.toString, "failed" -> calls.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
    System.out.flush()
    sys.exit(if (correct && calls.failed == 0) 0 else 1)
  }

  /** Per-layer metrics of one warm unit of work (a refresh, a catalog
    * pass): Catalyst planning, time covered by Spark jobs, driver-side
    * time outside both, and the executors' work.
    */
  private def layerMetrics(t: Tracer, unit: (Span, Cost), out: Out): Unit = {
    val (s, c) = unit
    out.layer("plan_ms") = (c.planS * 1e3, "ms")
    out.layer("jobs_busy_ms") = (c.jobBusyS * 1e3, "ms")
    out.layer("driver_ms") = (t.driverS(s, c) * 1e3, "ms")
    out.layer("task_s") = (c.taskS, "s")
    out.layer("jobs") = (c.jobs.toDouble, "count")
    out.layer("tasks") = (c.tasks.toDouble, "count")
    out.layer("shuffle_mb") = (c.shuffleMb, "MB")
    out.layer("worst_skew") = (c.worstSkew, "ratio")
  }

  /** `refresh_stream`: nightly refreshes, then the stream served from the
    * last refresh's item sims.
    */
  def runRefreshStream(spark: SparkSession, seedDir: String, seed: Long,
      seconds: Double, limitMs: Double, work: String, t: Tracer, calls: Calls,
      out: Out): Unit = {
    val walls = ArrayBuffer[Double]()
    var side: Option[Stream.Side] = None
    // closed loop, one client: a new snapshot per refresh; one cold and
    // two warm refreshes
    val refreshes = 3
    for (i <- 1 to refreshes) {
      val dir = s"$work/snap-$i"
      Gen.writeEvents(spark, dir, Offline.snapshot(seed, i))
      // when tracing, refresh 2 runs untraced: refresh 3 against it gives
      // the tracing overhead
      t.active = t.enabled && i != 2
      val t0 = System.nanoTime()
      val n = calls.failed
      val (checks, sims) = Offline.refresh(spark, dir, t, calls)
      if (calls.failed == n) walls += (System.nanoTime() - t0) / 1e9
      checks.filterNot(_.ok).foreach(c => out.checks += ((false, s"snap-$i: ${c.why}")))
      if (i == 1) checks.foreach(c => out.checks += ((c.ok, c.why)))
      side = calls("streaming.side")(Stream.side(spark, dir, sims))
      HeapSampler.checkpoint()
      spark.catalog.clearCache()
    }
    t.active = t.enabled
    val warm = walls.drop(1).toArray.sorted
    out.detail("refreshes") = walls.length
    out.detail("offline_refresh_s") = Stats.median(warm)
    out.detail("offline_first_refresh_s") = walls.head
    out.e2e("build_s") = (walls.head, "s")
    out.e2e("serve_s") = (Stats.median(warm), "s")
    val refreshSpans = t.named("offline.refresh")
    def med(name: String, f: (Span, Cost) => Double): Double =
      Stats.median(t.named(name).drop(1).map { case (s, c) => f(s, c) })
    Seq("sources.ratings", "ops.stats", "ml.als_fit", "ml.user_recs", "ml.item_sims")
      .foreach(n => out.detail(s"${n}_s") = med(n, (s, _) => s.seconds))
    Offline.rmse(spark, seedDir, calls).foreach { case (rmse, base) =>
      out.detail("offline_rmse") = rmse
      out.detail("offline_baseline_rmse") = base
      out.checks += ((rmse < base, f"q23 RMSE $rmse%.4f below the global-mean baseline $base%.4f"))
    }
    side.foreach(s => runStream(spark, s, seed, seconds, limitMs, work, t, calls, out))
    if (t.enabled && refreshSpans.length == refreshes) {
      val (traced, plain) = (refreshSpans(2), refreshSpans(1))
      out.detail("trace.e2e_delta_ms") = (traced._1.seconds - plain._1.seconds) * 1e3
      out.detail("trace.units") = refreshSpans.count(_._1.traced)
      layerMetrics(t, traced, out)
      val ms = (n: String) => t.named(n).filter(_._1.traced).drop(1).map(_._1.seconds)
      out.layer("ops_ms") = (Stats.median(ms("ops.stats")) * 1e3, "ms")
      out.layer("ml_ms") = (Stats.median(ms("ml.als_fit").zip(ms("ml.user_recs"))
        .zip(ms("ml.item_sims")).map { case ((a, b), c) => a + b + c }) * 1e3, "ms")
      def cmed(name: String, f: Cost => Double): Double =
        Stats.median(t.named(name).filter(_._1.traced).drop(1).map(x => f(x._2)))
      out.detail("ml.als_task_s") = cmed("ml.als_fit", _.taskS)
      out.detail("ml.als_shuffle_mb") = cmed("ml.als_fit", _.shuffleMb)
      out.detail("ml.als_worst_skew") = cmed("ml.als_fit", _.worstSkew)
      out.detail("offline.plan_s") = traced._2.planS
      out.detail("offline.driver_s") = t.driverS(traced._1, traced._2)
      out.detail("offline.spill_mb") = traced._2.spillMb
    }
  }

  def runStream(spark: SparkSession, side: Stream.Side, seed: Long,
      seconds: Double, limitMs: Double, work: String, t: Tracer, calls: Calls,
      out: Out): Unit = {
    val res = calls("streaming.run")(t.span("streaming.run")(
      Stream.run(spark, side, seed, seconds, s"$work/stream")))
    res.foreach { r =>
      val plan = Stream.phases(seconds)
      val sentN = r.chunks.last.until
      out.inputs("rating_log") = Gen.logProps(r.events.take(sentN))
      def p(xs: Array[Double], q: Double): Double = Stats.pct(xs, q)
      val nominal = r.latMs("nominal")
      out.detail("stream_lat_p50_ms") = p(nominal, 50)
      out.detail("stream_lat_p90_ms") = p(nominal, 90)
      out.detail("stream_lat_p99_ms") = p(nominal, 99)
      out.detail("stream.nominal_events") = nominal.length
      out.detail("stream.latency_limit_ms") = limitMs
      // a step passes when its p99 meets the limit and its backlog is
      // not growing; the nominal phase is the first step, and the
      // highest rate counts only when every lower step passed too
      val steps = plan.zipWithIndex.filter(_._1.name != "warmup")
      val passing = steps.takeWhile { case (ph, pi) =>
        val l = r.latMs.getOrElse(ph.name, Array.empty[Double])
        l.nonEmpty && p(l, 99) <= limitMs && Stream.sustains(r, pi, ph.rate)
      }
      steps.foreach { case (ph, pi) =>
        r.latMs.get(ph.name).filter(_.nonEmpty).foreach { l =>
          out.detail(s"stream.${ph.name}.p99_ms") = p(l, 99)
        }
        r.backlogEnd.get(ph.name).foreach(b => out.detail(s"stream.${ph.name}.backlog_end") = b.toDouble)
        out.detail(s"stream.${ph.name}.own_triggers") = Stream.ownBatches(r, pi).length
      }
      out.detail("stream_max_rate_eps") = passing.lastOption.map(_._1.rate).getOrElse(0.0)
      val data = r.progress.filter(_.numInputRows > 0).sortBy(_.batchId)
      def dur(pr: StreamingQueryProgress, k: String): Double =
        Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val trig = data.map(dur(_, "triggerExecution")).toArray.sorted
      out.detail("streaming.gen_lag_ms_p99") = p(r.genLagMs.sorted, 99)
      out.detail("streaming.gen_lag_ms_max") = r.genLagMs.max
      out.detail("streaming.trigger_ms_p50") = p(trig, 50)
      out.detail("streaming.trigger_ms_max") = trig.last
      Seq("addBatch" -> "add_batch_ms", "queryPlanning" -> "query_planning_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms")
        .foreach { case (k, n) =>
          out.detail(s"streaming.$n") = Stats.median(data.map(dur(_, k)))
        }
      out.detail("streaming.rows_per_batch") = Stats.median(data.map(_.numInputRows.toDouble))
      val last = r.progress.maxBy(_.batchId)
      out.detail("streaming.state_rows") = last.stateOperators.map(_.numRowsTotal).sum.toDouble
      out.detail("streaming.state_mem_mb") =
        last.stateOperators.map(_.memoryUsedBytes).sum / 1e6
      out.detail("streaming.out_table_rows") =
        spark.read.parquet(s"$work/stream/recs").count().toDouble
      out.detail("streaming.triggers") = data.length
      val (ok, why) = Stream.check(spark, side, r.events.take(sentN).toSeq, s"$work/stream")
      out.checks += ((ok, why))
      out.checks += ((r.latMs.values.forall(!_.exists(_.isNaN)),
        "every sent event was processed by a trigger"))
      if (t.enabled) {
        out.layer("streaming_ms") = (p(trig, 50), "ms")
        val (rescoreS, upsertS) = Stream.replay(spark, side, r, s"$work/stream", t)
        out.detail("streaming.rescore_ms") = rescoreS * 1e3
        out.detail("streaming.upsert_ms") = upsertS * 1e3
      }
    }
  }

  /** `catalog_serve`: a build pass, then warm passes, over the served set. */
  def runCatalog(spark: SparkSession, dir: String, seed: Long, t: Tracer,
      calls: Calls, out: Out): Unit = {
    val r = Catalog.run(spark, dir, seed, t, calls)
    val passWalls = r.warm.groupBy(_.pass).values.map(_.map(_.seconds).sum).toArray.sorted
    // a query's warm latency is its mean over the warm passes
    val lat = r.warm.groupBy(_.query).values
      .map(ss => ss.map(_.seconds).sum / ss.length * 1e3).toArray.sorted
    val buildS = r.build.map(_.seconds).sum
    out.detail("catalog_build_s") = buildS
    out.detail("catalog_serve_s") = Stats.median(passWalls)
    out.detail("catalog_q_p50_ms") = Stats.pct(lat, 50)
    out.detail("catalog_q_p90_ms") = Stats.pct(lat, 90)
    out.detail("catalog.warm_passes") = Catalog.WarmPasses
    out.detail("catalog.warm_samples") = lat.length
    out.e2e("build_s") = (buildS, "s")
    out.e2e("serve_s") = (Stats.median(passWalls), "s")
    out.checks += ((r.mismatches.isEmpty && r.build.length == Catalog.Served.length,
      s"every warm-pass hash equals its build-pass hash (${r.mismatches.length} differ)"))
    (r.build ++ r.warm).groupBy(_.query).foreach { case (q, ss) =>
      out.detail(s"q.$q.build_s") = ss.filter(_.pass == 0).map(_.seconds).sum
      out.detail(s"q.$q.serve_s") = Stats.median(ss.filter(_.pass > 0).map(_.seconds))
    }
    if (t.enabled) {
      val spans = t.allSpans
      def cost(s: Catalog.Sample) = (spans(s.spanIdx), t.cost(s.spanIdx))
      // warm pass 1 is traced, pass 2 untraced (see Catalog.run)
      val pass1 = r.warm.filter(_.pass == 1)
      val wall1 = pass1.map(_.seconds).sum
      val wall2 = r.warm.filter(_.pass == 2).map(_.seconds).sum
      out.detail("trace.e2e_delta_ms") = (wall1 - wall2) * 1e3
      out.detail("trace.units") = 2 // the build pass and warm pass 1
      // the unit's wall is its spans' walls: the drains between spans
      // are the tracer's, reported as trace_overhead_ms
      val spanWall1 = pass1.map(cost(_)._1.seconds).sum
      layerMetrics(t, (Span("catalog.pass", 0L, (spanWall1 * 1e9).toLong, -1, ""),
        pass1.map(cost(_)._2).reduce(_ + _)), out)
      def moduleMs(m: String): Double = pass1.filter(_.module == m).map(_.seconds).sum * 1e3
      out.layer("ops_ms") = (moduleMs("ops"), "ms")
      out.layer("ml_ms") = (moduleMs("ml"), "ms")
      out.layer("streaming_ms") = (moduleMs("streaming"), "ms")
      val worst = (r.build ++ pass1).map(s => cost(s)._2.worstSkew)
      out.detail("catalog.worst_skew") = worst.max
      Catalog.Served.map(_._2).distinct.foreach { m =>
        out.detail(s"$m.build_s") = r.build.filter(_.module == m).map(_.seconds).sum
        val ms = pass1.filter(_.module == m).map(cost)
        out.detail(s"$m.serve_s") = ms.map(_._1.seconds).sum
        out.detail(s"$m.plan_s") = ms.map(_._2.planS).sum
        out.detail(s"$m.driver_s") = ms.map { case (s, c) => t.driverS(s, c) }.sum
        out.detail(s"$m.jobs") = ms.map(_._2.jobs).sum
        out.detail(s"$m.task_s") = ms.map(_._2.taskS).sum
        out.detail(s"$m.shuffle_mb") = ms.map(_._2.shuffleMb).sum
        out.detail(s"$m.spill_mb") = ms.map(_._2.spillMb).sum
      }
    }
  }
}

/** Peak retained heap: the largest heap occupancy left after a full
  * collection forced at a boundary between the run's units of work
  * ([[HeapSampler.checkpoint]], outside every timed region). Occupancy
  * before a collection, or after a young or concurrent one, depends on
  * when the collector happened to run; what survives a full collection
  * is what the run really holds.
  */
object HeapSampler {
  @volatile var peakMb = 0.0

  /** Force a full collection and record what survives it. The second
    * collection runs after Spark's context cleaner has had a moment to
    * release the broadcasts and shuffles the first one found
    * unreachable, so the figure does not depend on the cleaner's timing.
    */
  def checkpoint(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val rt = Runtime.getRuntime
    synchronized { peakMb = math.max(peakMb, (rt.totalMemory - rt.freeMemory) / 1048576.0) }
  }
}
