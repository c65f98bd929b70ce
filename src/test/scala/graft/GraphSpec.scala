package graft

import org.apache.spark.sql.functions._

/** Semantics of the iterative graph operator (q81). Value parity
  * with the unrolled SQL is the oracle's job; here we pin the
  * update rule against a hand-computed reference on a graph small
  * enough to verify mentally, plus structural invariants.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(edges: Seq[(Long, Long, Long)], iters: Int) =
    graph.PageRank
      .pageRank(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("one iteration matches the hand-computed update rule") {
    // A->B, B->A, C->A: N=3, uniform start 1/3, all out-weights 1.
    // r1(A) = 0.15/3 + 0.85*(1/3 + 1/3); r1(B) = 0.15/3 + 0.85/3;
    // r1(C) = 0.15/3 (no in-edges).
    val r = ranks(Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 1L, 1L)), 1)
    assert(math.abs(r(1L) - (0.05 + 0.85 * 2.0 / 3.0)) < 1e-9)
    assert(math.abs(r(2L) - (0.05 + 0.85 / 3.0)) < 1e-9)
    assert(math.abs(r(3L) - 0.05) < 1e-9)
  }

  test("edge weights shift rank toward the heavier destination") {
    // A splits 3:1 between B and C; B and C cycle back to A.
    val r = ranks(Seq((1L, 2L, 3L), (1L, 3L, 1L),
      (2L, 1L, 1L), (3L, 1L, 1L)), 3)
    assert(r(2L) > r(3L), r.toString)
    // total mass conserved (every node has out-edges)
    assert(math.abs(r.values.sum - 1.0) < 1e-6, r.values.sum.toString)
  }

  private def triStats(edges: Seq[(Long, Long)]) =
    graph.Triangles.triangleStats(edges.toDF("a", "b"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap

  test("triangles: K4 is all-triangles, clustering 1.0 everywhere") {
    // complete graph on 4 nodes: every node sits on C(3,2)=3 triangles
    val k4 = for { a <- 1L to 4L; b <- (a + 1) to 4L } yield (a, b)
    val r = triStats(k4)
    assert(r.keySet == Set(1L, 2L, 3L, 4L))
    r.values.foreach { case (deg, tri, c) =>
      assert(deg == 3L && tri == 3L && c == 1.0d, r.toString)
    }
  }

  test("triangles: a path has none; clustering is 0") {
    val r = triStats(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(r.values.forall { case (_, tri, c) => tri == 0L && c == 0.0d },
      r.toString)
  }

  test("triangles: parity with brute force on a seeded random graph") {
    val rnd = new scala.util.Random(11)
    val edges = (for {
      a <- 1L to 30L; b <- (a + 1) to 30L if rnd.nextDouble() < 0.3
    } yield (a, b)).toSeq
    val adj = edges.flatMap(e => Seq(e, e.swap))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val expected = adj.map { case (n, nbrs) =>
      val tri = (for {
        v <- nbrs.toSeq; w <- nbrs.toSeq
        if v < w && adj(v).contains(w)
      } yield 1).size.toLong
      val deg = nbrs.size.toLong
      val c = if (deg >= 2) 2.0 * tri / (deg * (deg - 1)) else 0.0
      n -> ((deg, tri, c))
    }
    assert(triStats(edges) == expected)
  }

  private def localKCore(edges: Seq[(Long, Long)], k: Int)
      : Map[Long, Long] = {
    var e = edges
    var done = false
    while (!done) {
      val deg = e.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
        .map { case (n, v) => n -> v.size }
      val weak = deg.filter(_._2 < k).keySet
      if (weak.isEmpty) done = true
      else e = e.filterNot(p => weak(p._1) || weak(p._2))
    }
    e.flatMap(p => Seq(p._1, p._2)).groupBy(identity)
      .map { case (n, v) => n -> v.size.toLong }
  }

  test("k-core: parity (membership + core degrees) with a local " +
      "peeler on seeded random graphs") {
    for (seed <- Seq(3, 19)) {
      val rnd = new scala.util.Random(seed)
      val edges = (for {
        a <- 1L to 40L; b <- (a + 1) to 40L if rnd.nextDouble() < 0.12
      } yield (a, b)).toSeq
      val got = graph.KCore.kCore(edges.toDF("a", "b"), 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == localKCore(edges, 3), s"seed=$seed")
    }
  }

  test("k-core: a clique survives, its pendant tree does not") {
    // K5 with a path hanging off node 1: the 3-core is exactly K5
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val tail = Seq((1L, 10L), (10L, 11L), (11L, 12L))
    val got = graph.KCore.kCore((k5 ++ tail).toDF("a", "b"), 3)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 4L, 5L), got.toString)
  }

  test("hub-and-ring skew graph: exact triangle counts, no wedge " +
      "blowup at the hub") {
    // one hub adjacent to n spokes; spokes form a cycle. A naive
    // wedge enumeration emits C(n,2) pairs at the hub; the oriented
    // plan emits O(n). Exact answers: n triangles, hub in all n,
    // each spoke in exactly 2 (the sweep records measured the same
    // graph at n = 10^6).
    val n = 2000
    val spokes = (1 to n).map(i => (0L, i.toLong))
    val ring = (1 until n).map(i => (i.toLong, i + 1L)) :+ (1L, n.toLong)
    val stats = graph.Triangles.triangleStats(
      (spokes ++ ring).toDF("a", "b")).cache()
    assert(stats.filter(col("node") === 0)
      .head().getLong(2) == n.toLong)
    assert(stats.filter(col("node") =!= 0 && col("tri_cnt") =!= 2)
      .count() == 0)
    // spokes have degree 3 -> the whole graph is a 3-core
    assert(graph.KCore.kCore(
      (spokes ++ ring).toDF("a", "b"), 3).count() == n + 1L)
    stats.unpersist()
  }

  test("triangles: plan has no cartesian product") {
    import org.apache.spark.sql.execution.ExplainMode
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val p = graph.Triangles.triangleStats(edges)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dangling nodes keep only teleport mass and leak the rest") {
    // star into a sink: the sink has no out-edges, so its absorbed
    // rank leaves the system — total drops below 1 but stays above
    // the pure-teleport floor.
    val r = ranks(Seq((1L, 9L, 1L), (2L, 9L, 1L), (3L, 9L, 1L)), 3)
    assert(r(9L) > r(1L))
    val total = r.values.sum
    assert(total < 1.0 && total > 0.15, total.toString)
  }

  private def trustRanks(edges: Seq[(Long, Long, Long)], iters: Int) =
    graph.PageRank
      .trustRank(edges.toDF("src", "dst", "w"), iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("trustrank: mass flows only from seeds; unreachable nodes " +
      "score zero, seeds keep the teleport floor") {
    // seed 100 -> 1 -> 2; node 3 -> 4 is disconnected from the seed.
    // 200 is a second seed with no out-path back into the chain.
    val r = trustRanks(Seq((100L, 1L, 1L), (1L, 2L, 1L),
      (3L, 4L, 1L), (200L, 100L, 1L)), 3)
    // two seeds: 100 and 200 (ns = 2)
    // nodes untouched by any seed path carry exactly zero trust
    assert(r(3L) == 0.0 && r(4L) == 0.0, r.toString)
    // reachable-from-seed nodes carry positive trust (node 2, a
    // sink, ACCUMULATES what 1 passes through — trust decays with
    // distance only when mass keeps moving)
    assert(r(1L) > 0.0 && r(2L) > 0.0, r.toString)
    // every seed keeps at least its teleport floor 0.15/ns
    assert(r(100L) >= 0.15 / 2 - 1e-12 && r(200L) >= 0.15 / 2 - 1e-12)
    // seed 100 also RECEIVES trust from seed 200's out-edge
    assert(r(100L) > r(200L), r.toString)
  }

  private def communities(edges: Seq[(Long, Long, Long)], rounds: Int = 3) =
    graph.Communities
      .labelPropagation(edges.toDF("src", "dst", "w"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("lpa: a weak bridge between two triangles yields two " +
      "communities where CC would merge them into one") {
    // triangles {1,2,3} and {4,5,6} with internal weight 10,
    // bridged 3-4 with weight 1 — ONE connected component.
    val tri = Seq((1L, 2L, 10L), (2L, 3L, 10L), (1L, 3L, 10L),
      (4L, 5L, 10L), (5L, 6L, 10L), (4L, 6L, 10L), (3L, 4L, 1L))
    val c = communities(tri)
    assert(c(1L) == c(2L) && c(2L) == c(3L), c.toString)
    assert(c(4L) == c(5L) && c(5L) == c(6L), c.toString)
    // the weighted argmax keeps the sides apart across the bridge
    assert(c(1L) != c(4L), c.toString)
  }

  test("lpa: weight ties break to the smaller label, " +
      "deterministically") {
    // node 3 sees labels 1 and 2 at equal weight in round 1
    val c = communities(Seq((1L, 3L, 5L), (2L, 3L, 5L)), 1)
    assert(c(3L) == 1L, c.toString)
  }

  test("lpa: one round matches the hand-computed sync update") {
    // 1-2 (w 10), 2-3 (w 1): after one round node 2 takes label 1
    // (heavier neighbor), node 1 takes 2, node 3 takes 2.
    val c = communities(Seq((1L, 2L, 10L), (2L, 3L, 1L)), 1)
    assert(c == Map(1L -> 2L, 2L -> 1L, 3L -> 2L), c.toString)
  }

  test("cached edge tables: built once per (session, dir), " +
      "row-identical to the direct derivation") {
    import graft.graph.Triangles
    // same INSTANCE on repeat call — the five graph queries share
    // one build (the r14 materialize-once discipline)
    val w1 = Triangles.cachedWeightedEdges(spark, sfTiny)
    val w2 = Triangles.cachedWeightedEdges(spark, sfTiny)
    assert(w1 eq w2, "cachedWeightedEdges rebuilt on second call")
    val u1 = Triangles.cachedUndirectedEdges(spark, sfTiny)
    assert(u1 eq Triangles.cachedUndirectedEdges(spark, sfTiny),
      "cachedUndirectedEdges rebuilt on second call")
    // content parity with the uncached spelling (multiset equality
    // via two-sided EXCEPT ALL)
    val wd = Triangles.adjacentPartPairs(spark, sfTiny)
      .groupBy("src", "dst").agg(count(lit(1)).as("w"))
    assert(w1.exceptAll(wd).isEmpty && wd.exceptAll(w1).isEmpty,
      "weighted cache diverges from direct derivation")
    val ud = Triangles.coPurchaseEdges(spark, sfTiny)
    assert(u1.exceptAll(ud).isEmpty && ud.exceptAll(u1).isEmpty,
      "undirected cache diverges from direct derivation")
  }

  test("cached edge tables: residency holds exactly the touched " +
      "(dir, kind) keys, and dir aliases canonicalize to one entry") {
    import graft.graph.Triangles
    // fresh session = a clean keyspace (cache keys are session-scoped)
    val s = spark.newSession()
    val canon = new java.io.File(sfTiny).getCanonicalPath
    Triangles.cachedWeightedEdges(s, sfTiny)
    // trailing-slash alias of the same dir must NOT build a second
    // checkpoint (the r15 canonicalization)
    val viaAlias = Triangles.cachedWeightedEdges(s, sfTiny + "/")
    assert(viaAlias eq Triangles.cachedWeightedEdges(s, sfTiny),
      "dir alias built a duplicate edge checkpoint")
    Triangles.cachedUndirectedEdges(s, sfTiny)
    assert(Triangles.edgeCacheKeys(s) ==
      Set((canon, "weighted"), (canon, "undirected")),
      Triangles.edgeCacheKeys(s).toString)
  }

  test("edge cache: per-session cap evicts only this session's " +
      "oldest; EVERY eviction is a reference drop — the global " +
      "backstop never unpersists a live session's frame") {
    import graft.graph.Triangles
    val sfSmall = "/root/testdata/sf0.01"
    val canonTiny = new java.io.File(sfTiny).getCanonicalPath
    val canonSmall = new java.io.File(sfSmall).getCanonicalPath
    val other = spark.newSession() // bystander session, same key dirs
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // keep a strong reference: stands in for an in-flight consumer,
    // and keeps the ContextCleaner from reclaiming the frame mid-test
    val otherDf = Triangles.cachedWeightedEdges(other, sfTiny)
    val otherIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(otherIds.nonEmpty, "localCheckpoint left no persistent RDD")
    val s = spark.newSession()
    s.conf.set("spark.graft.edgeCacheMaxEntries", "2")
    Triangles.cachedWeightedEdges(s, sfTiny) // s's oldest
    Triangles.cachedUndirectedEdges(s, sfTiny)
    Triangles.cachedWeightedEdges(s, sfSmall) // 3rd entry: over cap=2
    assert(Triangles.edgeCacheKeys(s) ==
      Set((canonTiny, "undirected"), (canonSmall, "weighted")),
      s"expected s's oldest evicted: ${Triangles.edgeCacheKeys(s)}")
    // the bystander's entry survived — a global cap alone would have
    // evicted it (r15 ADVICE thrash finding)
    assert(Triangles.edgeCacheKeys(other) == Set((canonTiny, "weighted")),
      Triangles.edgeCacheKeys(other).toString)
    // per-session eviction must NOT unpersist (an in-flight job in s
    // could hold the frame; lineage is cut) — the bystander's blocks
    // are certainly untouched
    assert(otherIds.forall(
      spark.sparkContext.getPersistentRDDs.keySet.contains),
      "per-session eviction touched another session's blocks")
    // global backstop: a third session with a tiny global cap forces
    // total-residency eviction of OTHER sessions' oldest map entries
    // (the newSession()-churn bound on the bookkeeping map)
    val s3 = spark.newSession()
    s3.conf.set("spark.graft.edgeCacheGlobalMaxEntries", "2")
    Triangles.cachedUndirectedEdges(s3, sfSmall)
    assert(Triangles.edgeCacheKeys(s3) == Set((canonSmall, "undirected")),
      Triangles.edgeCacheKeys(s3).toString)
    assert(Triangles.edgeCacheKeys(other).isEmpty,
      s"backstop left the oldest other-session entry: " +
        s"${Triangles.edgeCacheKeys(other)}")
    // ...but the backstop must NOT have unpersisted the evicted
    // frame's blocks: `other` is still a LIVE session that may be
    // mid-job on it, and localCheckpoint lineage is cut, so a prompt
    // unpersist would abort that job with missing blocks (r16
    // ADVICE). Reference drop only; the ContextCleaner reclaims the
    // blocks once nothing reachable holds the frame — and `otherDf`
    // above IS that in-flight consumer, so the frame must still run.
    assert(otherIds.forall(
      spark.sparkContext.getPersistentRDDs.keySet.contains),
      "backstop eviction unpersisted a live session's blocks")
    assert(otherDf.count() > 0,
      "the evicted-but-still-held frame no longer executes")
    // and the evicted live session recovers by REBUILDING on its
    // next call — eviction degrades to recompute, never to an abort
    val rebuilt = Triangles.cachedWeightedEdges(other, sfTiny)
    assert(rebuilt.count() > 0, "evicted live session failed to rebuild")
  }

  test("q81/q146 on the driver equal their distributed plans") {
    // parallel 1->2 edges, no in-edges into 3, a sink at 9, seeds 100
    // and 200; then null ends, which never join
    val fixture = Seq((1L, 2L, 1L), (1L, 2L, 2L), (2L, 1L, 1L), (3L, 1L, 1L),
      (3L, 9L, 5L), (1L, 9L, 1L), (100L, 1L, 3L), (200L, 100L, 1L),
      (2L, 200L, 1L)).toDF("src", "dst", "w")
    val withNulls = fixture.union(Seq[(Option[Long], Option[Long], Long)](
      (None, Some(1L), 2L), (Some(2L), None, 1L), (Some(7L), Some(1L), 1L))
      .toDF("src", "dst", "w"))
    for ((name, edges) <- Seq(
        "sf0.001" -> graph.Triangles.cachedWeightedEdges(spark, sfTiny),
        "fixture" -> fixture, "nulls" -> withNulls);
        trust <- Seq(false, true)) {
      val got = graph.PageRank.ranked(edges, trust)
      val want = withPairLimit(1)(graph.PageRank.ranked(edges, trust))
      assert(isLocal(got) && !isLocal(want), s"$name trust=$trust")
      assert(got.schema == want.schema, s"$name trust=$trust")
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g.nonEmpty && g == w, s"$name trust=$trust")
    }
  }

  test("a warm q81 or q146 submits at most one job") {
    for (q <- graph.PageRank.defs) {
      q.fn(spark, sfTiny).collect()
      val jobs = jobsDuring(q.fn(spark, sfTiny).collect())
      info(s"a warm ${q.name} submitted $jobs jobs")
      assert(jobs <= 1, s"a warm ${q.name} submitted $jobs jobs")
    }
  }
}
