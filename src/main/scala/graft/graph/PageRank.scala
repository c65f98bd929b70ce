package graft.graph

import graft.{QueryDef, Scale}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Weighted PageRank over an edge list — the canonical iterative
  * graph operator a curation stack uses for link-graph authority
  * scoring (and, at the other end of the pipeline, for ranking
  * domains before crawl-budget allocation). The reference engine has
  * no graph operators at all; this is a pure extension built the
  * Spark-native way: each iteration is one equi join (ranks onto
  * edge sources) plus one hash aggregate (contributions by
  * destination) — both shuffle on the node key, so a 1000-executor
  * cluster runs each round as a single co-partitioned shuffle pair,
  * and AQE handles hub-node skew.
  *
  * While the edges fit [[graft.Scale.exactPairLimit]] (each edge is
  * one node pair), q81 and q146 run the same loop on the driver over
  * the collected edges ([[ranked]]): on a few thousand edges the
  * distributed loop's cost is its twenty-odd jobs of scheduling, not
  * its arithmetic. The driver loop keeps the plan's operand order, so
  * both sides give the same doubles.
  *
  * Iterative hygiene (the [[graft.dedup.Dedup]] CC lesson): every
  * round `localCheckpoint`s the new rank table — without it Catalyst
  * re-analyzes a lineage that doubles per iteration. On a real
  * cluster this is `checkpoint`/persisted-table rotation.
  *
  * Parity contract for the oracle: transition probabilities and rank
  * updates are plain IEEE doubles (identical operand order on both
  * engines); the per-destination contribution sum — the only
  * order-sensitive reduction — is quantized to the 1e-12 grid as
  * `floor(x * 1e12)` int64s and summed exactly. floor-of-the-same-
  * double is the one quantizer both engines agree on bit-for-bit: a
  * DECIMAL(28,12) cast here is NOT portable, because transition
  * probabilities are dyadic rationals (1/2, 1/4 …) whose rank
  * products land exactly ON grid lines, where DuckDB's scaled-
  * double-multiply cast and Spark's exact BigDecimal HALF_UP round
  * opposite ways (measured: 25/2000 nodes off by one grid step).
  * Dangling mass (nodes with no out-edges) is dropped, the standard
  * simple-PageRank convention; on this graph every node has
  * out-edges and total rank stays ≈ 1.
  */
object PageRank {

  val Damping = 0.85
  val Iterations = 3

  /** Teleport mass as a decimal-exact literal, not `1 - damping`
    * (which in double arithmetic is 0.15000000000000002 for 0.85).
    */
  private def teleport(damping: Double): Double =
    new java.math.BigDecimal(1).subtract(
      new java.math.BigDecimal(String.valueOf(damping))).doubleValue()

  /** Rank every node of `edges` (src, dst, w) after `iters` damped
    * power iterations. Edge weights become row-stochastic transition
    * probabilities p = w / out-weight(src).
    */
  def pageRank(edges: DataFrame, iters: Int = Iterations,
      damping: Double = Damping): DataFrame = {
    // Edges feed four consumers (out-weights, transitions, node set
    // ×2); truncate the lineage once instead of recomputing the
    // upstream self-join per consumer.
    val e0 = edges.localCheckpoint()
    val ow = e0.groupBy("src").agg(sum("w").as("ow"))
    val e = e0.join(ow, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("ow").cast("double")).as("p"))
      .localCheckpoint()
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val n = nodes.agg(count(lit(1)).as("n"))
    var r = nodes.crossJoin(broadcast(n))
      .select(col("node"), (lit(1.0) / col("n")).as("rank"))
    for (it <- 1 to iters) {
      val contrib = e.join(r, e("src") === r("node"))
        .select(e("dst").as("node"),
          floor(col("rank") * col("p") * lit(1e12)).as("c"))
        .groupBy("node")
        .agg((sum("c").cast("double") / lit(1e12)).as("contrib"))
      // NOT `lit(1 - damping)`: 1 − 0.85 in Scala double arithmetic
      // is 0.15000000000000002, while the oracle's literal 0.15 is
      // the rounded parse — pass the teleport mass as its own
      // literal so both engines start from the identical double.
      r = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(n))
        .select(col("node"),
          (lit(teleport(damping)) / col("n") +
            lit(damping) * coalesce(col("contrib"), lit(0.0d)))
            .as("rank"))
      // Periodic, not per-round, lineage cut (r19): r_{k+1} references
      // r_k exactly once, so the plan grows LINEARLY per round — at
      // the default 3 iterations the whole power loop plans and runs
      // as ONE job, where the per-round eager localCheckpoint was 3
      // serial materialization barriers (each idling the cluster at
      // its stage tail). Long custom runs still get their hygiene cut
      // every 8 rounds — skipped on the FINAL round (r19 ADVICE): a
      // cut there is a redundant materialization barrier, the exact
      // cost this change removed.
      if (it % 8 == 0 && it < iters) r = r.localCheckpoint()
    }
    r
  }

  /** q81 — PageRank on the co-purchase graph: an edge from the part
    * at line n to the part at line n+1 of the same order, weighted by
    * occurrence count. The oracle unrolls the three iterations as
    * chained CTEs — same math, declarative spelling.
    */
  val pageRankQ: QueryDef = {
    def iter(i: Int): String = {
      val p = i - 1
      s""" c$i AS (SELECT e.dst AS node,
         |  CAST(CAST(sum(CAST(floor(r$p.rank * e.p * 1e12) AS BIGINT))
         |    AS BIGINT) AS DOUBLE) / 1e12 AS contrib
         | FROM e JOIN r$p ON e.src = r$p.node GROUP BY e.dst),
         | r$i AS (SELECT nodes.node,
         |  CAST(0.15 AS DOUBLE)/(SELECT n FROM nn)
         |   + CAST(0.85 AS DOUBLE)
         |     * coalesce(c$i.contrib, CAST(0 AS DOUBLE)) AS rank
         | FROM nodes LEFT JOIN c$i USING (node))""".stripMargin
    }
    QueryDef.sql(
      "q81_pagerank",
      (s"""WITH e0 AS (SELECT l1.l_partkey AS src, l2.l_partkey AS dst,
          |  count(*) AS w
          | FROM lineitem l1 JOIN lineitem l2
          |  ON l1.l_orderkey = l2.l_orderkey
          |  AND l2.l_linenumber = l1.l_linenumber + 1
          | GROUP BY l1.l_partkey, l2.l_partkey),
          | ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow
          |  FROM e0 GROUP BY src),
          | e AS (SELECT e0.src, e0.dst,
          |  CAST(e0.w AS DOUBLE)/CAST(ow.ow AS DOUBLE) AS p
          |  FROM e0 JOIN ow USING (src)),
          | nodes AS (SELECT src AS node FROM e0
          |  UNION SELECT dst FROM e0),
          | nn AS (SELECT count(*) AS n FROM nodes),
          | r0 AS (SELECT node, CAST(1 AS DOUBLE)/(SELECT n FROM nn)
          |  AS rank FROM nodes),""" +
        iter(1) + "," + iter(2) + "," + iter(3) +
        // no final round: with floor-grid contributions every rank is
        // the same double bit-for-bit on both engines (round itself
        // is NOT portable — it has the same scaled-multiply problem
        // the contribution quantizer avoids).
        " SELECT node, rank FROM r3 ORDER BY node")
        .stripMargin.replaceAll("\n", "")
    )((s, d) => ranked(Triangles.cachedWeightedEdges(s, d), trust = false))
  }

  /** q146 — TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB
    * 2004): PageRank with the teleport mass concentrated on a
    * TRUSTED SEED SET instead of spread uniformly — trust propagates
    * outward through links, so nodes reachable only from untrusted
    * regions score near zero. This is the seed-propagation half of
    * web-spam demotion and the way a crawl pipeline ranks candidate
    * domains from a vetted allowlist; it is personalized PageRank
    * with the seed set as the personalization vector. Seeds here:
    * every 100th part key — deterministic and scale-stable (~1% of
    * nodes at any SF).
    *
    * Same per-round shape and parity contract as [[pageRank]]
    * (equi join + floor-grid quantized hash aggregate per round,
    * localCheckpoint lineage cuts, dangling mass dropped). The rank
    * table stays DENSE (zero-rank rows kept): at a 10¹⁰-node scale
    * the standard refinement iterates only the nonzero frontier —
    * rank sparsity is monotone decreasing in TrustRank, so round k
    * touches only nodes within k hops of a seed — but the dense
    * spelling is what the unrolled oracle can replay exactly, and
    * zero rows cost one filterable join row each.
    */
  val trustRankQ: QueryDef = {
    def iter(i: Int): String = {
      val p = i - 1
      s""" c$i AS (SELECT e.dst AS node,
         |  CAST(CAST(sum(CAST(floor(r$p.rank * e.p * 1e12) AS BIGINT))
         |    AS BIGINT) AS DOUBLE) / 1e12 AS contrib
         | FROM e JOIN r$p ON e.src = r$p.node GROUP BY e.dst),
         | r$i AS (SELECT nodes.node,
         |  CAST(0.15 AS DOUBLE)
         |    * (CASE WHEN nodes.node % 100 = 0
         |       THEN CAST(1 AS DOUBLE)/(SELECT ns FROM nns)
         |       ELSE CAST(0 AS DOUBLE) END)
         |   + CAST(0.85 AS DOUBLE)
         |     * coalesce(c$i.contrib, CAST(0 AS DOUBLE)) AS rank
         | FROM nodes LEFT JOIN c$i USING (node))""".stripMargin
    }
    QueryDef.sql(
      "q146_trustrank",
      (s"""WITH e0 AS (SELECT l1.l_partkey AS src, l2.l_partkey AS dst,
          |  count(*) AS w
          | FROM lineitem l1 JOIN lineitem l2
          |  ON l1.l_orderkey = l2.l_orderkey
          |  AND l2.l_linenumber = l1.l_linenumber + 1
          | GROUP BY l1.l_partkey, l2.l_partkey),
          | ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS ow
          |  FROM e0 GROUP BY src),
          | e AS (SELECT e0.src, e0.dst,
          |  CAST(e0.w AS DOUBLE)/CAST(ow.ow AS DOUBLE) AS p
          |  FROM e0 JOIN ow USING (src)),
          | nodes AS (SELECT src AS node FROM e0
          |  UNION SELECT dst FROM e0),
          | nns AS (SELECT count(*) AS ns FROM nodes
          |  WHERE node % 100 = 0),
          | r0 AS (SELECT node, CASE WHEN node % 100 = 0
          |  THEN CAST(1 AS DOUBLE)/(SELECT ns FROM nns)
          |  ELSE CAST(0 AS DOUBLE) END AS rank FROM nodes),""" +
        iter(1) + "," + iter(2) + "," + iter(3) +
        " SELECT node, rank FROM r3 ORDER BY node")
        .stripMargin.replaceAll("\n", "")
    )((s, d) => ranked(Triangles.cachedWeightedEdges(s, d), trust = true))
  }

  /** TrustRank over `edges` (src, dst, w): seed mass 1/|S| on nodes
    * where `node % 100 == 0`, teleport returns to seeds only.
    */
  def trustRank(edges: DataFrame, iters: Int = Iterations,
      damping: Double = Damping): DataFrame = {
    val e0 = edges.localCheckpoint()
    val ow = e0.groupBy("src").agg(sum("w").as("ow"))
    val e = e0.join(ow, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("ow").cast("double")).as("p"))
      .localCheckpoint()
    val nodes = e0.select(col("src").as("node"))
      .union(e0.select(col("dst").as("node")))
      .distinct()
      .localCheckpoint()
    val isSeed = col("node") % 100 === 0
    val ns = nodes.filter(isSeed).agg(count(lit(1)).as("ns"))
    def seedMass: org.apache.spark.sql.Column =
      when(isSeed, lit(1.0) / col("ns")).otherwise(lit(0.0d))
    var r = nodes.crossJoin(broadcast(ns))
      .select(col("node"), seedMass.as("rank"))
    for (it <- 1 to iters) {
      val contrib = e.join(r, e("src") === r("node"))
        .select(e("dst").as("node"),
          floor(col("rank") * col("p") * lit(1e12)).as("c"))
        .groupBy("node")
        .agg((sum("c").cast("double") / lit(1e12)).as("contrib"))
      r = nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(ns))
        .select(col("node"),
          (lit(teleport(damping)) * seedMass +
            lit(damping) * coalesce(col("contrib"), lit(0.0d)))
            .as("rank"))
      // periodic lineage cut — see [[pageRank]] (r19)
      if (it % 8 == 0 && it < iters) r = r.localCheckpoint()
    }
    r
  }

  /** q81 (`trust = false`) or q146 (`trust = true`) over `edges`
    * (src: bigint, dst: bigint, w: bigint), ordered by node. One
    * bounded collect decides the side: while the edges fit
    * [[Scale.exactPairLimit]] the loop runs on the driver
    * ([[localRank]]); above it [[pageRank]] or [[trustRank]] runs.
    */
  def ranked(edges: DataFrame, trust: Boolean): DataFrame =
    Scale.collectWithin(edges) match {
      case Some(rows) =>
        localRank(edges.sparkSession, rows, edges.schema, Iterations,
          Damping, trust)
      case None =>
        (if (trust) trustRank(edges) else pageRank(edges)).orderBy("node")
    }

  /** [[pageRank]] (or [[trustRank]]) on the driver over collected
    * `(src, dst, w)` rows, as a local relation already in node order.
    * It keeps the plans' arithmetic: p = w / out-weight as doubles,
    * each contribution `floor(rank * p * 1e12)` summed exactly as a
    * long and divided by 1e12, and the teleport term `teleport / n`
    * (PageRank) or `teleport * (1 / ns)` on seeds (TrustRank). As in
    * the joins, a null src carries no rank, and a null node or a null
    * dst never receives any.
    */
  private def localRank(s: SparkSession, edges: Array[Row],
      schema: StructType, iters: Int, damping: Double, trust: Boolean)
      : DataFrame = {
    def node(r: Row, i: Int): Option[Long] =
      if (r.isNullAt(i)) None else Some(r.getLong(i))
    // ORDER BY node puts a null first, as None sorts
    val nodes = edges.flatMap(r => Seq(node(r, 0), node(r, 1))).distinct.sorted
    val at = nodes.zipWithIndex.toMap
    val live = edges.filter(!_.isNullAt(0))
    val ow = live.groupMapReduce(_.getLong(0))(_.getLong(2))(Math.addExact)
    val src = live.map(r => at(node(r, 0)))
    val dst = live.map(r => if (r.isNullAt(1)) -1 else at(node(r, 1)))
    val p = live.map(r => r.getLong(2).toDouble / ow(r.getLong(0)).toDouble)
    val n = nodes.length
    val seed = nodes.map(_.exists(_ % 100 == 0))
    val ns = seed.count(identity)
    val start = Array.tabulate(n)(i =>
      if (!trust) 1.0 / n else if (seed(i)) 1.0 / ns else 0.0)
    val jump = Array.tabulate(n)(i =>
      if (trust) teleport(damping) * start(i) else teleport(damping) / n)
    var rank = start
    for (_ <- 1 to iters) {
      val c = new Array[Long](n)
      for (k <- src.indices if dst(k) >= 0)
        c(dst(k)) = Math.addExact(c(dst(k)),
          math.floor(rank(src(k)) * p(k) * 1e12).toLong)
      rank = Array.tabulate(n)(i => jump(i) + damping * (c(i).toDouble / 1e12))
    }
    val rows = new java.util.ArrayList[Row](n)
    for (i <- 0 until n) rows.add(Row(nodes(i).getOrElse(null), rank(i)))
    s.createDataFrame(rows, StructType(Seq(
      StructField("node", LongType,
        schema("src").nullable || schema("dst").nullable),
      StructField("rank", DoubleType))))
  }

  val defs: Seq[QueryDef] = Seq(pageRankQ, trustRankQ)
}
