package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Scale-routing knobs. Exact all-pairs similarity (cross join) is
  * only ever the right plan on a bounded input; every operator that
  * keeps a deliberate exact path consults `exactPairLimit` and routes
  * to its banded/LSH variant above it, so a 100×-scale input can never
  * reach an O(n²) plan by accident.
  */
object Scale {

  /** THE graft session builder — every main (Bench, Verify, GateRun,
    * the sweeps, every dev probe) builds its session here, so a conf
    * that matters to the engine can never be present in the measured
    * surfaces but absent from a probe (the r18 drift: the
    * ObjectHashAggregate fallback threshold was raised in the six
    * load-bearing mains but not in GateRun/Demo/20+ probes, so a
    * probe measuring any top_k_agg/sketch path re-measured the OLD
    * sort-spill behavior the engine no longer has). Callers may add
    * surface-specific confs on the returned builder (e.g. PlanAudit
    * disables AQE to pin plan shapes).
    *
    * The confs and why:
    *  - shuffle.partitions = cpus: local[32] is a 32-slot cluster;
    *    200 default partitions just multiplies task overhead.
    *  - objectHashAggregate.sortBased.fallbackThreshold = 2²⁰:
    *    the default sort-based fallback fires after 128 distinct
    *    keys PER TASK — graft's TypedImperativeAggregates (top_k_agg,
    *    the sketch tier) group by query/doc ids, so at any real
    *    scale every partial task blew past 128 and Spark silently
    *    sort-spilled the ENTIRE input stream (q127 at 100×: 23 GB of
    *    spill that was the sort, not the aggregate). Buffers are
    *    k-bounded (~100 B), so 1M map entries ≈ 100–200 MB/task —
    *    cheap insurance; the fallback valve stays for larger counts.
    *  - UTC session timezone: date derivations must agree with the
    *    DuckDB oracle regardless of host timezone.
    *  - graft.plans.GraftExtensions: the engine's Catalyst
    *    extensions are part of the engine, not an opt-in.
    */
  def sessionBuilder(appName: String,
      cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      : SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1048576")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")

  /** Max input rows for which an exact all-pairs (cross-join) plan is
    * allowed; above it operators switch to their LSH/banded variant.
    * It also bounds the inputs the driver takes on in place of a
    * distributed plan:
    *  - the pairs q20 and q22 score from collected ALS factors
    *    (|users|×|items| and |items|²);
    *  - the ratings (one user×item pair each) of an ALS fit replayed on
    *    the driver;
    *  - the edges (one node pair each) of q81/q146's power loop;
    *  - the ratings q25 rescores, whose co-occurrence pairs are at most
    *    (RecentK − 1) × the rating count.
    * Override per session with `spark.graft.exactPairLimit`.
    */
  val DefaultExactPairLimit = 100000L

  def exactPairLimit(s: SparkSession): Long =
    s.conf.getOption("spark.graft.exactPairLimit")
      .map(_.toLong).getOrElse(DefaultExactPairLimit)

  /** `df`'s rows while there are at most [[exactPairLimit]] of them,
    * else None: one bounded collect that both decides a driver-or-
    * distributed switch and feeds its driver side.
    */
  def collectWithin(df: DataFrame): Option[Array[Row]] = {
    val limit = exactPairLimit(df.sparkSession)
    val rows = df.limit(math.min(limit, Int.MaxValue - 1L).toInt + 1)
      .collect()
    if (rows.length <= limit) Some(rows) else None
  }

  /** Rebalance a frame that is about to feed an EXPENSIVE per-row
    * derive (tokenize + minhash perms, signature hashing) when its
    * scan parallelism is pathologically narrow. A parquet scan
    * cannot split inside a row group, so a table written as one
    * giant row group — the r18 100× sweep's documents table, and
    * any single-writer ingest in the wild — serializes the whole
    * derive into ONE task (q75 at 100×: a 26-task stage where one
    * task held 53.8 s and the median 0.03 s; same class as the r17
    * media serial-scan find, but here the payload must ride the
    * shuffle, so the rebalance is CONDITIONAL rather than
    * unconditional).
    *
    * Detection reads the pathology DIRECTLY from parquet footers
    * (r18 ADVICE): Spark byte-splits a large single file into
    * ~defaultParallelism range partitions regardless of row groups,
    * so `getNumPartitions` reports healthy parallelism while every
    * row still lands in the one partition whose range covers the
    * row group's midpoint — the partition-count heuristic only ever
    * caught SMALL files. The effective parallel ceiling of a parquet
    * scan is its total ROW-GROUP count; footers are metadata-only,
    * driver-side, and only consulted when the file count alone is
    * too low to guarantee health. Non-parquet file scans split
    * honestly inside files, and non-file sources have no footer to
    * read — both fall back to the partition-count heuristic.
    */
  def rebalanceNarrowScan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    if (narrowScan(df, inputFiles(df)))
      df.repartition(df.sparkSession.sparkContext.defaultParallelism)
    else df

  /** Scale-conditional fan-out decision for a checkpoint boundary
    * that feeds corpus-scale downstream chains (q153's cleaned/surv
    * spine): Some(defaultParallelism) when the corpus scan is BOTH
    * narrow — its parquet row-group parallel ceiling is below half
    * the cluster parallelism, the same footer detection as
    * [[rebalanceNarrowScan]] — AND large (total input bytes ≥
    * `spark.graft.fanout.minBytesPerSlot` × parallelism, default
    * 4 MB/slot); None otherwise. Both reads are driver-side metadata
    * only (file listing + footers), no jobs; the narrowness test runs
    * first, so a many-file scan never pays the per-file size lookups.
    *
    * Why conditional (r19 measured both regimes): at bench scale the
    * unconditional fan-out of q153's `cleaned` checkpoint cost +73 %
    * — each of the many downstream broadcast-build jobs paid
    * parallelism-many task launches where the one-partition
    * checkpoint read was effectively a local in-memory scan. At
    * 100 TB the inverse holds: a single-writer (one-row-group)
    * corpus serializes the whole perplexity + DSIR chain into one
    * task per stage. The size gate keeps each regime on its
    * measured-best plan.
    */
  def fanOutTarget(df: org.apache.spark.sql.DataFrame): Option[Int] = {
    val s = df.sparkSession
    val files = inputFiles(df)
    if (files.isEmpty || !narrowScan(df, files)) return None
    val target = s.sparkContext.defaultParallelism
    val minPerSlot = s.conf.getOption("spark.graft.fanout.minBytesPerSlot")
      .map(_.toLong).getOrElse(4L << 20)
    val conf = s.sessionState.newHadoopConf()
    val bytes = files.map { f =>
      try {
        val p = new org.apache.hadoop.fs.Path(f)
        p.getFileSystem(conf).getFileStatus(p).getLen
      } catch { case NonFatal(_) => 0L }
    }.sum
    if (bytes < minPerSlot * target) None else Some(target)
  }

  private def inputFiles(df: org.apache.spark.sql.DataFrame): Array[String] =
    try df.inputFiles catch { case NonFatal(_) => Array.empty[String] }

  /** The narrow-scan test both rebalances share: the scan's parallel
    * ceiling is below half the cluster parallelism. Enough files
    * guarantee ≥1 row group each; fewer parquet files are judged by
    * their footers' row-group total; anything else by its partition
    * count.
    */
  private def narrowScan(df: org.apache.spark.sql.DataFrame,
      files: Array[String]): Boolean = {
    val threshold = (df.sparkSession.sparkContext.defaultParallelism + 1) / 2
    if (files.length >= threshold) false
    else if (files.nonEmpty && files.forall(_.endsWith(".parquet")))
      totalRowGroups(df.sparkSession, files) < threshold
    else df.rdd.getNumPartitions < threshold
  }

  /** [[fanOutTarget]] applied: repartition `df` to cluster
    * parallelism only when its source scan is narrow AND large. The
    * conditional sibling of [[rebalanceNarrowScan]] for operators
    * whose bench-scale exchange costs more than it returns (r19
    * measured +12–74 % from the unconditional form on
    * benchShingleHits/dsirScores/perplexityBuckets/removeSharedSpans)
    * but whose 100 TB single-writer (one-row-group) exposure is real:
    * below the size gate this is the identity — plans byte-identical
    * to the r19-measured-best ones — and above it the derive fans out
    * across the cluster. On a non-file input (e.g. a checkpointed
    * intermediate) `inputFiles` is empty and this is the identity,
    * so composed uses (q153's spine) gate once at the source.
    */
  def rebalanceNarrowWideScan(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    fanOutTarget(df).map(df.repartition(_)).getOrElse(df)

  /** Sum of row-group counts across `files` (parquet footer reads —
    * metadata only, no data pages touched). A footer that fails to
    * read counts as ONE row group: unreadable metadata on an
    * already-few-files table should err toward rebalancing, and the
    * caller only reaches here with < defaultParallelism/2 files.
    */
  private def totalRowGroups(s: SparkSession,
      files: Array[String]): Int = {
    val conf = s.sessionState.newHadoopConf()
    files.map { f =>
      try {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromPath(new org.apache.hadoop.fs.Path(f), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size finally r.close()
      } catch { case NonFatal(_) => 1 }
    }.sum
  }

  // Regime-decision memo: constructing a cutover query runs a count()
  // job to pick the branch; memoize per (session, input key, current
  // limit) so plan-only consumers (schema checks, repeated
  // constructions) don't re-scan. Keying on the limit keeps conf
  // overrides live.

  /** True when `count` (evaluated at most once per session/key/limit)
    * is within the exact-pair limit.
    */
  def exactOk(s: SparkSession, key: String, count: => Long): Boolean =
    within(s, key, exactPairLimit(s))(count)

  /** Generic memoized regime decision for LINEAR exact paths, whose
    * affordability bound is far higher than [[exactPairLimit]]'s
    * quadratic one: true when `count` (evaluated at most once per
    * session/key/limit — conf overrides stay live through the key) is
    * within `limit`. Used by the two-regime queries (q45/q63/q66)
    * that serve the exact answer while it is affordable and the
    * sketch above it.
    */
  def within(s: SparkSession, key: String, limit: Long)(
      count: => Long): Boolean =
    StandingState(s, ("scale.decision", key, limit))(count <= limit)

  /** Apply `SPARK_GRAFT_SESSION_CONFS` ("k=v;k2=v2") to the session —
    * the experiment passthrough shared by the Verify and ScaleSweep
    * mains, so a dialed configuration (e.g. widePhashBands) can run
    * either surface without code edits. One parser, one contract
    * (r16 review: two copies drift). A non-empty segment without
    * '=' (a typo'd dial, a stray token after ';') FAILS LOUDLY
    * instead of being dropped — this is an experiment-config
    * surface, and a silently-missing dial records misattributed
    * results (r16 ADVICE). Empty segments (trailing ';') are fine.
    */
  def applyEnvConfs(s: SparkSession, log: String => Unit): Unit =
    sys.env.get("SPARK_GRAFT_SESSION_CONFS").foreach(_.split(";")
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        require(kv.indexOf('=') > 0,
          s"SPARK_GRAFT_SESSION_CONFS segment '$kv' has no '=' — " +
            "refusing to run with a silently-dropped dial")
        val Array(ck, cv) = kv.split("=", 2)
        s.conf.set(ck, cv)
        log(s"conf $ck=$cv")
      })
}
