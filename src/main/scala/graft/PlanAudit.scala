package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{GenerateExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** Systematic sweep for the orderBy-double-execution shape that the
  * round-13 kNN pricing found ANECDOTALLY in q127 (SWEEP_r13
  * knn_kernel_pricing): a global `orderBy` is planned as a RANGE sort,
  * and range partitioning SAMPLES its child RDD to pick partition
  * bounds — a separate job that re-executes the child from the last
  * shuffle boundary. If there is NO shuffle below the sort (broadcast
  * joins and scans all the way down), the sampling job re-executes the
  * ENTIRE pipeline, so every materialization pays the query twice.
  * Invisible to bench's `count()` (EliminateSorts drops the sort
  * there); fully paid by Verify/collect/write — exactly how q127's 2×
  * hid for four rounds.
  *
  * This audit walks every [[SparkEntry.queries]] plan (AQE off, so
  * the static plan shape is inspectable) and reports each GLOBAL
  * SortExec by severity:
  *
  *   - `reexecutes_all` — no ShuffleExchange anywhere below the sort:
  *     the q127 shape, the whole child runs twice on materialization.
  *   - `reexecutes_last_stage` — a shuffle exists below: sampling
  *     reuses shuffle outputs and re-runs only the post-shuffle
  *     stage. The residual cost is that stage's work (usually cheap
  *     projection/filter; can still bite when the final stage holds
  *     an expensive verify kernel).
  *
  * Single-partition sorts (`repartition(1).sortWithinPartitions`, the
  * shipped fix for small outputs) don't plan a range exchange and are
  * invisible here — by design.
  *
  * A second audit (round 14, verdict item 5) hunts the
  * Generate-size broadcast hazard: Catalyst's size estimate for a
  * Generate (explode) is its CHILD's size, so a high-fanout explode
  * inherits the pre-explode few-MB estimate and the planner happily
  * BROADCASTS a side that is really >1 GB once exploded — at scale
  * that is a driver-collect abort (spark.driver.maxResultSize), the
  * exact failure `ops/FuzzyJoin.scala`'s `shuffle_hash` hint exists
  * to prevent. [[generateBroadcastFindings]] reports every query
  * whose static plan contains a BroadcastExchange with a Generate
  * anywhere below it; PlanAuditSpec pins the set to a reviewed
  * allowlist (entries whose fanout is provably bounded and small) so
  * a new unbounded-explode broadcast fails the build with its name.
  *
  * Emits one PROBE_JSON line; run at sf0.001 (plan shape is
  * SF-independent; regime-routed queries that CHANGE shape with SF
  * can be audited at other dirs by passing the dir).
  */
object PlanAudit {

  /** Audit outcome: per-sort findings plus the names of queries whose
    * plan failed to BUILD here (env-bound streams etc.). Skipped
    * queries are surfaced, not silently dropped — a planning failure
    * must shrink the audit's coverage loudly (round-14 ADVICE: the
    * spec invariant passed vacuously for skipped queries before).
    */
  final case class Audit(findings: Seq[(String, String)],
      skipped: Seq[String])

  private def auditPlans(spark: SparkSession, sfDir: String)(
      collect: (String, SparkPlan) => Seq[(String, String)]): Audit = {
    val skipped = Seq.newBuilder[String]
    val findings = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan
          collect(name, plan)
        } catch {
          // a query whose plan cannot even build here is out of the
          // audit's scope — but its NAME is part of the result, so a
          // coverage hole is visible in the artifact and the spec
          case NonFatal(e) =>
            System.err.println(s"[audit] $name skipped: " +
              e.toString.takeWhile(_ != '\n').take(120))
            skipped += name
            Seq.empty
        }
    }
    Audit(findings, skipped.result())
  }

  /** (query, severity) per global SortExec across every registered
    * query's static plan. Requires a session with AQE OFF (the
    * adaptive wrapper hides the sort/exchange tree behind
    * unevaluated query stages until execution); the main below
    * builds one, and PlanAuditSpec toggles the shared spec session.
    */
  def globalSortAudit(spark: SparkSession, sfDir: String): Audit = {
    def hasShuffleBelow(p: SparkPlan): Boolean =
      p.exists { case _: ShuffleExchangeLike => true; case _ => false }
    auditPlans(spark, sfDir) { (name, plan) =>
      plan.collect { case s: SortExec if s.global => s }.map { s =>
        val sev =
          if (hasShuffleBelow(s.child)) "reexecutes_last_stage"
          else "reexecutes_all"
        (name, sev)
      }
    }
  }

  /** Backwards-compatible view of [[globalSortAudit]]'s findings. */
  def globalSortFindings(spark: SparkSession, sfDir: String)
      : Seq[(String, String)] = globalSortAudit(spark, sfDir).findings

  /** Findings per BroadcastExchange whose subtree contains a
    * Generate — the explode-inherits-child-size estimation hazard.
    * Static-plan audit; AQE off required for the same reason as the
    * sort audit. Two severities:
    *
    *   - `exploded_rows_broadcast` — a Generate is reachable from the
    *     broadcast root WITHOUT crossing an aggregate or limit: the
    *     exploded rows themselves are the broadcast payload, and the
    *     planner sized that payload from the PRE-explode child
    *     estimate. This is the FuzzyJoin shape — at scale the
    *     "broadcast" is a >1 GB driver collect. Every instance needs
    *     either a `shuffle_hash` hint or a written bounded-fanout
    *     argument in PlanAuditSpec's allowlist.
    *   - `generate_below_agg_broadcast` — every path from the
    *     broadcast root to a Generate crosses an aggregate or limit:
    *     the broadcast payload is the post-aggregate result (a vocab,
    *     a probe set, a centroid table), not the exploded stream. The
    *     exploded rows are consumed inside the broadcast-build job;
    *     mis-estimation affects only that job's parallelism, not the
    *     broadcast volume. Informational.
    */
  def generateBroadcastAudit(spark: SparkSession, sfDir: String): Audit = {
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.{BaseLimitExec, TakeOrderedAndProjectExec}
    // Generate reachable from p without crossing a payload-shrinking
    // barrier (aggregate or limit)?
    def rawGenerate(p: SparkPlan): Boolean = p match {
      case _: GenerateExec => true
      case _: BaseAggregateExec => false
      case _: BaseLimitExec => false
      case _: TakeOrderedAndProjectExec => false
      case other => other.children.exists(rawGenerate)
    }
    auditPlans(spark, sfDir) { (name, plan) =>
      plan.collect {
        case b: BroadcastExchangeLike
            if b.exists { case _: GenerateExec => true; case _ => false } =>
          val sev =
            if (rawGenerate(b.child)) "exploded_rows_broadcast"
            else "generate_below_agg_broadcast"
          (name, sev)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = Scale.sessionBuilder("graft-plan-audit", cpus)
      // static plans: AdaptiveSparkPlanExec hides the sort/exchange
      // tree behind unevaluated query stages until execution
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val sorts = globalSortAudit(spark, sfDir)
    val bad = sorts.findings.filter(_._2 == "reexecutes_all")
    val mild = sorts.findings.filter(_._2 == "reexecutes_last_stage")
    val gen = generateBroadcastAudit(spark, sfDir)
    def arr(xs: Seq[String]): String =
      xs.map(x => s""""$x"""").distinct.mkString("[", ",", "]")
    println(s"""PROBE_JSON {"probe":"global_sort_audit","dir":"$sfDir",""" +
      s""""queries_audited":${SparkEntry.queries.size - sorts.skipped.size},""" +
      s""""queries_registered":${SparkEntry.queries.size},""" +
      s""""skipped":${arr(sorts.skipped)},""" +
      s""""reexecutes_all":${arr(bad.map(_._1))},""" +
      s""""reexecutes_last_stage":${arr(mild.map(_._1))}}""")
    val genBad = gen.findings.filter(_._2 == "exploded_rows_broadcast")
    val genMild = gen.findings.filter(_._2 == "generate_below_agg_broadcast")
    println(s"""PROBE_JSON {"probe":"generate_broadcast_audit","dir":"$sfDir",""" +
      s""""queries_audited":${SparkEntry.queries.size - gen.skipped.size},""" +
      s""""skipped":${arr(gen.skipped)},""" +
      s""""exploded_rows_broadcast":${arr(genBad.map(_._1))},""" +
      s""""generate_below_agg_broadcast":${arr(genMild.map(_._1))}}""")
    spark.stop()
  }
}
