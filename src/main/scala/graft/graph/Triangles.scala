package graft.graph

import graft.{QueryDef, StandingState, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting + local clustering coefficient with
  * degree-ordered orientation (Schank & Wagner 2005; the MapReduce
  * formulation is Suri & Vassilvitskii, WWW 2011). Like
  * [[PageRank]], a pure extension — the reference has no graph
  * operators — giving the curation stack the standard community-
  * density signal (e.g. spam/link-farm detection on a crawl graph
  * before admission).
  *
  * Why orientation is the 100 TB shape: the naive wedge join
  * enumerates Σ deg(v)² wedges, which a single hub node (deg 10⁷)
  * turns into 10¹⁴ rows. Orienting every edge from its lower to its
  * higher endpoint in the total order (degree, id) caps every node's
  * OUT-degree at O(√m), so wedge enumeration is Σ outdeg(v)² ≤
  * O(m^1.5) REGARDLESS of skew — each triangle is generated exactly
  * once, at its lowest-ordered corner. Three shuffle stages, all on
  * small keys: a degree aggregate, a wedge self-join on the center
  * node, and a closure hash join on the (canonical) missing edge.
  * No cartesian, no driver-side adjacency.
  *
  * Determinism: counts are integers; the clustering coefficient
  * 2·tri / (deg·(deg−1)) is one double division of small ints —
  * bit-identical on both engines.
  */
object Triangles {

  /** Per-node triangle count and local clustering coefficient for an
    * undirected simple graph given as canonical edges (a < b,
    * distinct). Output: (node, deg, tri_cnt, clustering).
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // edges feed degree, orientation, and closure — one lineage cut
    val e = edges.select(col("a"), col("b")).localCheckpoint()
    val deg = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by the total order (deg, id): src ≺ dst
    val ed = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val oriented = ed.select(
      when(col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("src"), col("b").as("dst")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst")))
        .as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
      .localCheckpoint()
    // wedges at each center: unordered out-neighbor pairs, emitted
    // canonically (va < vb by id) so the closure join hits the
    // canonical edge table directly. Dataset ALIASES of the one
    // oriented plan, so the two src-keyed exchanges are sameResult
    // and ReuseExchange shuffles the edge stream once (renaming dst
    // below the exchange — the prior spelling — breaks the reuse;
    // the q124 lesson applied here)
    val wedges = oriented.as("p")
      .join(oriented.as("q"), col("p.src") === col("q.src"))
      .filter(col("p.dst") =!= col("q.dst"))
      .select(col("p.src").as("src"),
        least(col("p.dst"), col("q.dst")).as("va"),
        greatest(col("p.dst"), col("q.dst")).as("vb"))
      // each unordered pair appears twice out of the self-join
      .distinct()
    val tris = wedges.join(e,
      wedges("va") === e("a") && wedges("vb") === e("b"))
      .select(col("src").as("x"), col("va").as("y"), col("vb").as("z"))
    val perNode = tris.select(col("x").as("node"))
      .union(tris.select(col("y").as("node")))
      .union(tris.select(col("z").as("node")))
      .groupBy("node").agg(count(lit(1)).as("tri_cnt"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        when(col("deg") >= 2,
          (coalesce(col("tri_cnt"), lit(0L)) * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0d)).as("clustering"))
  }

  /** Directed adjacent-part pairs (src, dst) — parts on CONSECUTIVE
    * line numbers of one order, the edge derivation every
    * co-purchase graph query starts from (q81/q122/q126/q146/q148).
    *
    * One lineitem scan + ONE shuffle, not two: both join sides are
    * Dataset aliases of the same projection, and the adjacency
    * condition is spelled `(y.ln − x.ln) = 1` — an equality whose
    * left side references BOTH join sides, so ExtractEquiJoinKeys
    * cannot lift it into the hash keys (spelled `y.ln = x.ln + 1` it
    * becomes a key and the two exchanges hash DIFFERENT expressions,
    * breaking sameResult). With the key pinned to l_orderkey alone
    * the exchanges are identical and ReuseExchange scans + shuffles
    * lineitem once; the adjacency check runs as the join filter over
    * each order's ≤ 7×7 line combos — bounded fanout, no pair
    * materialization.
    *
    * NOT a window `lead`: this testdata's (l_orderkey, l_linenumber)
    * is NOT unique (~12k duplicate keys at sf0.01), and the +1 join
    * pairs every duplicate cross-wise where lead chains one path —
    * measured as 5 hash-red graph queries before reverting.
    */
  def adjacentPartPairs(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_partkey")
    li.as("x")
      .join(li.as("y"),
        col("x.l_orderkey") === col("y.l_orderkey") &&
          col("y.l_linenumber") - col("x.l_linenumber") === 1)
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
  }

  /** q122 — triangle census of the co-purchase graph (same edge
    * derivation as q81's PageRank: parts adjacent on an order's line
    * sequence), undirected and de-duplicated. The oracle spells the
    * census as the textbook x<y<z triple join — quadratic wedges,
    * fine at oracle scale, exactly what the oriented plan avoids.
    */
  /** Canonical undirected co-purchase edges (a < b, distinct) —
    * parts adjacent on an order's line sequence, the undirected view
    * of q81's PageRank edge list. Shared by q122 and q126.
    */
  def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    adjacentPartPairs(s, d)
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  // FIVE registered queries (q81/q122/q126/q146/q148) start from the
  // same lineitem self-join; re-deriving it per query was a local
  // testing artifact, not the production shape — at cluster scale
  // the edge table is MATERIALIZED once per corpus snapshot and
  // every graph job reads it (the cachedQuarterPairs / cachedIndex
  // discipline, r14). Cluster spelling: a WRITTEN table (or reliable
  // checkpoint dir), not localCheckpoint — local checkpoint blocks
  // die with their executors; the single-JVM local mode has no such
  // failure domain, which is why the cheap spelling is correct here. Two derived views are cached per (session,
  // dir): weighted directed (src, dst, w) for the rank/propagation
  // family and canonical undirected (a, b) for the census/core
  // family. Both are aggregate outputs (unique part pairs — ~edge
  // count, not lineitem count), so the persisted footprint is small.
  //
  // Residency policy (r15, lifecycle tightened r16 per ADVICE): the
  // entries live in [[graft.StandingState]] under keys ("graph.edges",
  // CANONICAL dir, kind) — canonicalized so trailing-slash/symlink
  // aliases of one dir share one build — and are CAPPED PER SESSION
  // at MaxEntriesPerSession (insertion-order eviction within the
  // session; 16 = 8 dirs × 2 kinds, far above any real session's dir
  // churn). A global cap ALONE was wrong here: with many concurrently
  // live sessions it evicted OTHER sessions' live entries and every
  // call rebuilt the checkpoint — thrash exactly when most loaded; a
  // global BACKSTOP (default 64, well above cap × live sessions)
  // remains to bound newSession() churn. EVERY eviction — per-session
  // cap and global backstop alike (r17, per ADVICE) — is a reference
  // drop, never a prompt unpersist: an in-flight job may hold the
  // frame and a localCheckpoint cannot recompute (lineage cut), so
  // unpersist would abort it with missing blocks. Dropped frames
  // become unreachable immediately, and the ContextCleaner reclaims
  // the blocks on the next GC (bounded by
  // spark.cleaner.periodicGC.interval). Contract: consumers re-fetch via
  // cachedEdges per query and never hold an evicted frame across
  // calls. Each build logs its partition footprint so residency is
  // observable.

  /** Resident (dir, kind) entries allowed per session — conf dial
    * `spark.graft.edgeCacheMaxEntries` (default 16 = 8 dirs × 2
    * kinds, far above any real session's dir churn).
    */
  private def maxEntriesPerSession(
      s: org.apache.spark.sql.SparkSession): Int =
    s.conf.getOption("spark.graft.edgeCacheMaxEntries")
      .map(_.toInt).getOrElse(16)

  /** Global backstop across ALL sessions — conf dial
    * `spark.graft.edgeCacheGlobalMaxEntries` (default 64). The
    * per-session cap cannot bound `newSession()` churn on a live
    * context: StandingState purges on CONTEXT stop, so a discarded
    * session object (probe loops, notebook re-runs) pins its ≤ cap
    * entries until then. The backstop drops the globally oldest
    * entries of OTHER sessions once the total exceeds it (reference
    * drop only — see the eviction policy above), so residency stays
    * bounded however many sessions come and go, and the dropped
    * frames' blocks are GC-reclaimed via the ContextCleaner.
    */
  private def globalMaxEntries(
      s: org.apache.spark.sql.SparkSession): Int =
    s.conf.getOption("spark.graft.edgeCacheGlobalMaxEntries")
      .map(_.toInt).getOrElse(64)

  private def canonicalDir(d: String): String =
    try new java.io.File(d).getCanonicalPath
    catch { case _: java.io.IOException => d }

  // StandingState key tag of the edge tables: (EdgeTag, dir, kind)
  private val EdgeTag = "graph.edges"

  private def isEdgeKey(k: (org.apache.spark.sql.SparkSession, Any)) =
    k._2 match {
      case (EdgeTag, _, _) => true
      case _ => false
    }

  /** (dir, kind) keys currently resident for `s` — test/diagnostic
    * visibility for the residency policy.
    */
  private[graft] def edgeCacheKeys(s: org.apache.spark.sql.SparkSession)
      : Set[(String, String)] =
    StandingState.resident.collect {
      case (ss, (EdgeTag, d: String, kind: String)) if ss eq s =>
        (d, kind)
    }.toSet

  private def cachedEdges(s: org.apache.spark.sql.SparkSession,
      d: String, kind: String)(build: => DataFrame): DataFrame = {
    val key = (EdgeTag, canonicalDir(d), kind)
    // localCheckpoint, NOT persist: persist snapshots the PRE-adaptive
    // plan, so the stored relation keeps the static shuffle partition
    // count (32) where direct execution AQE-coalesces the small edge
    // table to ~2 — and every downstream peel/rank round then pays
    // ~100 near-empty tasks (measured on q126: 0.17–0.42 s/round via
    // localCheckpoint vs 0.8–1.0 s/round via persist, +1.9 s/query).
    // localCheckpoint executes with AQE and stores the coalesced
    // result blocks with lineage cut — the same artifact the
    // consumers used to build privately, now shared per (session,
    // dir) for the session's lifetime (or until evicted by the cap).
    StandingState(s, key) {
      // the new entry is resident from here on, so the caps are
      // enforced as it enters, before its build runs
      StandingState.evict { resident =>
        val edges = resident.filter(isEdgeKey)
        // per-session cap: THIS session's oldest entries only — never
        // another live session's (ADVICE r15)
        val mine = edges.filter(_._1 eq s)
        val overCap = mine.filter(_._2 != key)
          .take(mine.size - maxEntriesPerSession(s))
        // global backstop: OTHER sessions' oldest entries, counted
        // after the per-session eviction above
        val left = edges.filterNot(overCap.contains)
        val overGlobal = left.filter(k => !(k._1 eq s))
          .take(left.size - globalMaxEntries(s))
        overCap ++ overGlobal
      }
      val df = build.localCheckpoint()
      System.err.println(s"[graph] edge cache built kind=$kind " +
        s"dir=${key._2} partitions=${df.rdd.getNumPartitions} " +
        s"entries=${StandingState.resident.count(isEdgeKey)}")
      df
    }
  }

  /** [[adjacentPartPairs]] aggregated to weighted directed edges
    * (src, dst, w), persisted once per (session, dir) — the edge
    * table q81 PageRank, q146 TrustRank, and q148 label propagation
    * consume.
    */
  def cachedWeightedEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    cachedEdges(s, d, "weighted") {
      adjacentPartPairs(s, d)
        .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    }

  /** [[coPurchaseEdges]] persisted once per (session, dir) — the
    * edge table q122 triangles and q126 k-core consume.
    */
  def cachedUndirectedEdges(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    cachedEdges(s, d, "undirected")(coPurchaseEdges(s, d))

  val trianglesQ: QueryDef = QueryDef.sql(
    "q122_triangles",
    """WITH p AS (SELECT l1.l_partkey AS pa, l2.l_partkey AS pb
      | FROM lineitem l1 JOIN lineitem l2
      |  ON l1.l_orderkey = l2.l_orderkey
      |  AND l2.l_linenumber = l1.l_linenumber + 1),
      | e AS (SELECT DISTINCT least(pa, pb) AS a, greatest(pa, pb) AS b
      |  FROM p WHERE pa <> pb),
      | tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1 JOIN e e2 ON e2.a = e1.b
      |   JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
      | roles AS (SELECT x AS node FROM tri
      |  UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri),
      | cnt AS (SELECT node, count(*) AS tri_cnt FROM roles
      |  GROUP BY node),
      | deg AS (SELECT node, count(*) AS deg FROM
      |  (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
      |  GROUP BY node)
      | SELECT deg.node, deg.deg, coalesce(cnt.tri_cnt, 0) AS tri_cnt,
      |  CASE WHEN deg.deg >= 2 THEN
      |   CAST(coalesce(cnt.tri_cnt, 0) * 2 AS DOUBLE)
      |    / CAST(deg.deg * (deg.deg - 1) AS DOUBLE)
      |  ELSE CAST(0 AS DOUBLE) END AS clustering
      | FROM deg LEFT JOIN cnt ON deg.node = cnt.node
      | ORDER BY deg.node""".stripMargin.replaceAll("\n", "")
  ) { (s, d) =>
    triangleStats(cachedUndirectedEdges(s, d)).orderBy("node")
  }

  val defs: Seq[QueryDef] = Seq(trianglesQ)
}
