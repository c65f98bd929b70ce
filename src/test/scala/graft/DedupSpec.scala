package graft

import graft.dedup.Dedup
import graft.functions.HashFunctions._
import graft.search.Ann
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("simhash: permuted/duplicated token sets give identical signatures") {
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "delta gamma beta alpha"),          // permutation
      (3L, "alpha beta gamma delta alpha"),    // duplicate token
      (4L, "totally different words here")
    ).toDF("id", "text")
      .select(col("id"),
        simhash64(array_distinct(split(col("text"), " "))).as("sig"))
    val sigs = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) == sigs(3L))
    assert(sigs(1L) != sigs(4L))
  }

  test("minhash LSH finds all high-jaccard pairs found by brute force") {
    val docs = Tables.documents(spark, sfTiny)
    val toks = docs.select(col("doc_id"),
      array_distinct(split(col("text"), " ")).as("t"))
    val a = toks.select(col("doc_id").as("da"), col("t").as("ta"))
    val b = toks.select(col("doc_id").as("db"), col("t").as("tb"))
    val exact = a.crossJoin(b).filter(col("da") < col("db"))
      .withColumn("j",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))))
      .filter(col("j") >= 0.9)
      .select(col("da"), col("db"))
    val lsh = Dedup.minhashPairs(docs, 32, 8, 0.9)
      .select(col("doc_a").as("da"), col("doc_b").as("db"))
    val nExact = exact.count()
    val missed = exact.except(lsh).count()
    info(s"exact pairs=$nExact, missed by LSH=$missed")
    assert(nExact > 0, "fixture should contain near-dup docs")
    // 8 bands x 4 rows at s>=0.9: candidate probability ~0.9998
    assert(missed <= nExact / 50, s"LSH missed $missed of $nExact")
    // threshold-tuned 8x8 banding (the production q31 shape): ~99%
    // expected recall at J=0.9
    val lsh64 = Dedup.minhashPairs(docs, 64, 8, 0.9)
      .select(col("doc_a").as("da"), col("doc_b").as("db"))
    val missed64 = exact.except(lsh64).count()
    info(s"missed by 64x8 LSH=$missed64")
    assert(missed64 <= math.max(2L, nExact / 20),
      s"64x8 LSH missed $missed64 of $nExact")
  }

  test("exact-dup collapse: expanded pairs == direct pairs, dups at 1.0") {
    import spark.implicits._
    // corpus with exact-dup groups (identical token SETS, some via
    // reordering/multiplicity) plus near-dups and unrelated docs
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      1L -> base,
      2L -> base.split(" ").reverse.mkString(" "), // same set, reordered
      3L -> (base + " " + base),                   // same set, repeated
      4L -> ((1 to 38).map(i => s"w$i").mkString(" ") + " x y"), // near
      5L -> (1 to 40).map(i => s"v$i").mkString(" "),            // far
      6L -> (1 to 40).map(i => s"v$i").mkString(" ")             // dup of 5
    ).toDF("doc_id", "text")
    val pairs = Dedup.minhashPairs(docs, 64, 8, 0.9)
      .select("doc_a", "doc_b", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every intra-group pair present at exactly 1.0
    Seq((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L)).foreach { p =>
      assert(pairs.get(p).contains(1.0), s"$p -> ${pairs.get(p)}")
    }
    // cross-group near-dup: every member of {1,2,3} pairs with 4 at
    // the SAME value (inherited from the representative)
    val v14 = pairs.get((1L, 4L))
    assert(v14.exists(j => j >= 0.9 && j < 1.0), v14.toString)
    assert(pairs.get((2L, 4L)) == v14 && pairs.get((3L, 4L)) == v14,
      pairs.toString)
    // nothing pairs across the unrelated groups
    assert(!pairs.keySet.exists { case (a, b) => a <= 4 && b >= 5 },
      pairs.keySet.toString)
  }

  test("minhash signature expressions: agreement estimates jaccard") {
    val df = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "a b c d e f g h i k"), // J = 9/11 ~ 0.82
      (3L, "z y x w v u t s r q") // J = 0
    ).toDF("id", "text")
      .select(col("id"), minhash_sig(
        array_distinct(transform(split(col("text"), " "), t => xxhash64(t))),
        64).as("mh"))
    val a = df.filter(col("id") === 1L).select(col("mh").as("mh_a"))
    def agreement(other: Long): Int =
      a.crossJoin(df.filter(col("id") === other).select(col("mh").as("mh_b")))
        .select(sig_matches(col("mh_a"), col("mh_b"))).collect()(0).getInt(0)
    val selfM = a.crossJoin(df.filter(col("id") === 1L)
      .select(col("mh").as("mh_b")))
      .select(sig_matches(col("mh_a"), col("mh_b"))).collect()(0).getInt(0)
    assert(selfM == 64, "identical sets must agree on every minhash")
    val near = agreement(2L)
    val far = agreement(3L)
    info(s"agreement near=$near/64 (J=0.82), far=$far/64 (J=0)")
    assert(near > 64 * 0.55 && near < 64, s"near agreement $near")
    assert(far < 64 * 0.25, s"far agreement $far")
  }

  test("sorted_intersect_size matches array_intersect semantics") {
    val df = Seq(
      (Array(1L, 3L, 5L, 7L), Array(3L, 4L, 5L, 8L, 9L)), // inter {3,5}
      (Array(1L, 2L), Array(3L, 4L)),                      // disjoint
      (Array.empty[Long], Array(1L, 2L))                   // empty side
    ).toDF("x", "y")
    val got = df.select(
      sorted_intersect_size(col("x"), col("y")).as("m"),
      size(array_intersect(col("x"), col("y"))).as("ref"))
      .collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"merge=${r.getInt(0)} ref=${r.getInt(1)}"))
  }

  test("first_equal_band picks the first fully-equal band") {
    // build two 8-long signatures: band size 4, bands 0 and 1
    val rows = Seq((Array(1L, 2L, 3L, 4L, 9L, 9L, 9L, 9L),
      Array(5L, 2L, 3L, 4L, 9L, 9L, 9L, 9L))) // band0 differs, band1 equal
      .toDF("x", "y")
    val got = rows.select(first_equal_band(col("x"), col("y"), 2))
      .collect()(0).getInt(0)
    assert(got == 1)
    val none = Seq((Array(1L, 2L), Array(3L, 4L))).toDF("x", "y")
      .select(first_equal_band(col("x"), col("y"), 2)).collect()(0).getInt(0)
    assert(none == -1)
    val both = Seq((Array(7L, 8L), Array(7L, 8L))).toDF("x", "y")
      .select(first_equal_band(col("x"), col("y"), 2)).collect()(0).getInt(0)
    assert(both == 0)
  }

  test("LSH ANN results are a subset of valid neighbors with exact sims") {
    val brute = Ann.bruteForce.fn(spark, sfTiny)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    val lsh = Ann.lshTopK.fn(spark, sfTiny)
    // every lsh (query, neighbor, sim) must carry the true cosine:
    // check agreement where pairs coincide with brute-force top-k
    val joined = lsh.alias("l").join(brute.alias("b"),
      Seq("query_id", "neighbor_id"))
      .filter(abs(col("l.sim") - col("b.sim")) > 1e-9)
    assert(joined.isEmpty)
    // recall@5 is approximate but must be nonzero overall
    val hits = lsh.join(brute, Seq("query_id", "neighbor_id")).count()
    info(s"LSH recall@5 overlap = $hits / ${brute.count()}")
    assert(hits > 0)
  }

  test("IVF ANN recall beats LSH on this corpus and sims are exact") {
    val brute = Ann.bruteForce.fn(spark, sfTiny)
      .select("query_id", "neighbor_id", "sim")
    val ivf = Ann.ivfTopK.fn(spark, sfTiny)
    val bad = ivf.alias("i").join(brute.alias("b"),
      Seq("query_id", "neighbor_id"))
      .filter(abs(col("i.sim") - col("b.sim")) > 1e-9)
    assert(bad.isEmpty)
    val hits = ivf.join(brute, Seq("query_id", "neighbor_id")).count()
    info(s"IVF recall@5 overlap = $hits / ${brute.count()}")
    assert(hits > 0)
  }

  test("hyperplane signature is deterministic and respects nbits") {
    val e = Tables.embeddings(spark, sfTiny).limit(100)
    val s1 = e.select(col("vec_id"), hyperplane_sig(col("embedding"), 16).as("s"))
    val s2 = e.select(col("vec_id"), hyperplane_sig(col("embedding"), 16).as("s"))
    assert(s1.except(s2).isEmpty)
    assert(s1.filter(col("s") < 0 || col("s") >= 65536).isEmpty)
  }

  test("connected components labels every node with its cluster min") {
    // two triangles + a chain + an isolated pair; exercise both the
    // driver union-find fallback (default) and the distributed loop
    // (local-solve limit forced to 0) — identical answers required
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L),
      (20L, 21L)).toDF("doc_a", "doc_b")
    def check(): Unit = {
      val comp = Dedup.connectedComponents(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(Seq(1L, 2L, 3L).forall(comp(_) == 1L))
      assert(Seq(10L, 11L, 12L).forall(comp(_) == 10L))
      assert(Seq(20L, 21L).forall(comp(_) == 20L))
    }
    check()
    spark.conf.set("spark.graft.cc.localSolveLimit", "0")
    try check()
    finally spark.conf.unset("spark.graft.cc.localSolveLimit")
  }

  test("connected components: long chain converges on both solve paths") {
    // a 40-node path graph — worst case for min-label propagation,
    // where pointer jumping must collapse label chains
    val chain = (0L until 39L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    for (limit <- Seq("100000", "0")) {
      spark.conf.set("spark.graft.cc.localSolveLimit", limit)
      try {
        val comp = Dedup.connectedComponents(chain).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(comp.size == 40 && comp.values.forall(_ == 0L),
          s"limit=$limit: ${comp.toSeq.sortBy(_._1).take(5)}...")
      } finally spark.conf.unset("spark.graft.cc.localSolveLimit")
    }
  }

  test("conditional narrow-wide fan-out: operator outputs identical " +
      "when the gate is forced") {
    // r20: benchShingleHits / removeSharedSpans / perplexityBuckets /
    // dsirScores fan their scan out ONLY when the corpus is narrow
    // AND large. Force the size gate down and pin byte-identical
    // outputs through two representative operators.
    val docs = Tables.documents(spark, sfTiny)
    val plainHits = Dedup.benchShingleHits(docs, 97)
      .orderBy("doc_id").collect().toSeq
    val plainSpans = Dedup.removeSharedSpans(docs).collect().toSeq
    spark.conf.set("spark.graft.fanout.minBytesPerSlot", "1")
    try {
      assert(Scale.fanOutTarget(docs)
        .contains(spark.sparkContext.defaultParallelism))
      assert(Dedup.benchShingleHits(Tables.documents(spark, sfTiny), 97)
        .orderBy("doc_id").collect().toSeq == plainHits)
      assert(Dedup.removeSharedSpans(Tables.documents(spark, sfTiny))
        .collect().toSeq == plainSpans)
    } finally spark.conf.unset("spark.graft.fanout.minBytesPerSlot")
  }

  test("cc whole-graph local solve == distributed labels on random " +
      "graphs") {
    // r20: below the local-solve bound connectedComponents collects
    // the raw edge list into the driver union-find directly (no
    // propagation round, no contraction). Parity with the distributed
    // loop must be exact on arbitrary graphs, including self-loops
    // and duplicate edges.
    val rnd = new scala.util.Random(7)
    val es = (1 to 500)
      .map(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
    val edges = es.toDF("doc_a", "doc_b")
    // IntegerType ids take both paths too, and come back as longs
    val intEdges = edges.select(col("doc_a").cast("int"),
      col("doc_b").cast("int"))
    def labels(e: org.apache.spark.sql.DataFrame) =
      Dedup.connectedComponents(e).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = labels(edges)
    assert(labels(intEdges) == local, "IntegerType local solve diverged")
    spark.conf.set("spark.graft.cc.localSolveLimit", "0")
    try {
      for (input <- Seq(edges, intEdges)) {
        val dist = labels(input)
        assert(local == dist,
          s"local-vs-distributed label diff: ${
            (local.toSet diff dist.toSet).take(5)} / ${
            (dist.toSet diff local.toSet).take(5)}")
      }
    } finally spark.conf.unset("spark.graft.cc.localSolveLimit")
  }

  test("large-star/small-star solve: path labels == min, random graphs " +
      "== union-find") {
    // path graph: diameter n, the shape that defeats bounded-round
    // label propagation — the star alternation must label everything 0
    val n = 3000
    val chain = spark.range(n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val labels = Dedup.starSolve(chain)
    assert(labels.count() == n)
    assert(labels.filter(col("label") =!= 0L).isEmpty)
    // random multigraphs: labels must equal the driver union-find's
    // component minima exactly
    val rnd = new scala.util.Random(3)
    val es = (1 to 400)
      .map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter(e => e._1 != e._2)
    val got = Dedup.starSolve(es.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val uf = Dedup.unionFind(es.toArray)
    assert(got.keySet == uf.keySet)
    got.foreach { case (id, l) =>
      assert(l == uf(id), s"node $id: star=$l uf=${uf(id)}")
    }
  }

  test("dedup clusters: every doc labeled once, keepers are cluster minima") {
    val c = Dedup.clusters.fn(spark, sfTiny)
    val docs = Tables.documents(spark, sfTiny)
    assert(c.count() == docs.count())
    assert(c.select("doc_id").distinct().count() == docs.count())
    // every cluster's keeper is its min member and is flagged
    val bad = c.groupBy("cluster_id")
      .agg(min("doc_id").as("mn"), sum(when(col("is_keeper"), 1).otherwise(0))
        .as("keepers"))
      .filter(col("mn") =!= col("cluster_id") || col("keepers") =!= 1)
    assert(bad.isEmpty)
    val keepers = c.filter(col("is_keeper")).count()
    info(s"dedup: ${docs.count()} docs -> $keepers keepers")
    assert(keepers < docs.count(), "fixture has near-dups; some must merge")
  }

  test("q49 regimes agree: every LSH-merged cluster folds into " +
      "exactly one exact-edge cluster") {
    // the LSH edge set is a verified SUBSET of the exact J>=0.9 pair
    // set, so the LSH labeling must refine the exact labeling — two
    // docs an LSH cluster merges can never land in different exact
    // clusters
    val l = Dedup.clusterLabels(spark, sfTiny)
      .select(col("doc_id"), col("cluster_id").as("lc"))
    val e = Dedup.exactFullClusterLabels(spark, sfTiny)
      .select(col("doc_id"), col("cluster_id").as("ec"))
    val split = l.join(e, "doc_id")
      .groupBy("lc").agg(countDistinct("ec").as("n"))
      .filter(col("n") > 1)
    assert(split.isEmpty,
      s"LSH clusters straddling exact clusters: ${split.count()}")
  }

  test("exact dedup keeps one keeper per distinct text") {
    val d = Dedup.exact.fn(spark, sfTiny)
    val docs = Tables.documents(spark, sfTiny)
    assert(d.agg(sum("dup_cnt")).head.getLong(0) == docs.count())
    assert(d.select("fingerprint").distinct().count() == d.count())
  }

  test("quality score is within [0,1]") {
    val q = text.TextAnalysis.qualityScore.fn(spark, sfTiny)
    assert(q.filter(col("quality") < 0 || col("quality") > 1).isEmpty)
  }

  test("lang_id predicts a language for every document") {
    val l = text.TextAnalysis.langId.fn(spark, sfTiny)
    assert(l.filter(col("predicted_lang").isNull).isEmpty)
    assert(l.count() == Tables.documents(spark, sfTiny).count())
  }

  test("keepBest re-picks each cluster's keeper as the score argmax") {
    val labels = Dedup.clusters.fn(spark, sfTiny)
    val scores = text.TextAnalysis.qualityScore.fn(spark, sfTiny)
      .select(col("doc_id"), col("quality"))
    val kept = Dedup.keepBest(labels, scores, "quality")
    // exactly one keeper per cluster
    val perCluster = kept.groupBy("cluster_id")
      .agg(sum(when(col("is_keeper"), 1).otherwise(0)).as("k"),
        max("quality").as("mx"))
    assert(perCluster.filter(col("k") =!= 1).isEmpty)
    // and it carries the cluster-max score
    val bad = kept.filter(col("is_keeper"))
      .join(perCluster.select(col("cluster_id"), col("mx")), "cluster_id")
      .filter(col("quality") =!= col("mx"))
    assert(bad.isEmpty)
    // deterministic re-pick: the mid-id doc wins on score, and a tie
    // falls back to min id
    import spark.implicits._
    val syn = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_id")
    val sscores = Seq((1L, 0.1), (2L, 0.9), (3L, 0.5), (4L, 0.7), (5L, 0.7))
      .toDF("doc_id", "q")
    val picked = Dedup.keepBest(syn, sscores, "q")
      .filter(col("is_keeper")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(picked == Set(2L, 4L), picked.toString)
  }

  test("semdedup drops planted near-identical vectors, keeps one per " +
      "semantic group") {
    import spark.implicits._
    // 3 well-separated base directions in R^4, 40 vectors each with
    // tiny jitter (intra-group cosine ~1, cross-group ≤ ~0.1), plus
    // an exact duplicate of vector 0 planted at a high id
    val rnd = new scala.util.Random(7)
    def jitter(v: Array[Float]): Array[Float] =
      v.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f)
    val bases = Seq(
      Array(1f, 0f, 0f, 0f), Array(0f, 1f, 0f, 0f), Array(0f, 0f, 1f, 0f))
    val rows = (0 until 120).map { i =>
      (i.toLong, jitter(bases(i % 3)))
    } :+ (999L, bases(0).clone())
    val emb = rows.toDF("vec_id", "embedding")
      .withColumn("label", lit(0))
    val dir = java.nio.file.Files
      .createTempDirectory("graft_semdedup").toString
    emb.write.parquet(s"$dir/embeddings.parquet")
    val out = Ann.semDedup.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getBoolean(2), r.getLong(3)))
    // each jitter-group collapses to (roughly) one keeper; the exact
    // duplicate of 0 must be dropped against a smaller-id keeper
    val kept = out.filter(_._2).map(_._1).toSet
    assert(kept.size <= 12, s"kept ${kept.size} of 121 near-identical")
    val dup = out.find(_._1 == 999L).get
    assert(!dup._2 && dup._3 < 999L,
      s"planted duplicate survived: $dup")
    // dropped rows always cite a kept, smaller-id vector
    out.filterNot(_._2).foreach { case (id, _, of) =>
      assert(of < id && kept.contains(of), s"bad dup_of for $id -> $of")
    }
    // no over-dropping: every semantic group keeps a representative
    // (vector i belongs to direction i % 3; cross-group cosine ≈ 0
    // sits far under τ, so groups can never collapse into each other)
    val keptDirs = kept.filter(_ != 999L).map(_ % 3)
    assert(keptDirs == Set(0L, 1L, 2L), s"lost a group: $keptDirs")
  }

  test("incremental near-dup == full-pass pairs restricted to the " +
      "new batch") {
    val sets = Dedup.tokenSets(Tables.documents(spark, sfSmall))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), math.rint(r.getDouble(2) * 1e4))
    val incr = Dedup.incrementalPairs(
      sets.filter(col("doc_id") % 7 === 0),
      sets.filter(col("doc_id") % 7 =!= 0))
      .collect().map(key).toSet
    val full = Dedup.minhashPairs(sets, 64, 8, 0.9)
      .filter(col("doc_a") % 7 === 0 || col("doc_b") % 7 === 0)
      .collect().map(key).toSet
    assert(incr == full,
      s"only-incr=${(incr -- full).take(5)} only-full=${(full -- incr).take(5)}")
    assert(incr.nonEmpty, "trivially-empty comparison")
  }

  test("bloom build/probe: inserted keys always hit, strangers rarely") {
    import spark.implicits._
    import graft.functions.BloomFilters._
    val numBits = 1 << 16
    val k = 7
    val ins = (1L to 2000L).map(i => i * 0x9e3779b97f4a7c15L)
    val bloom = Seq(ins).toDF("ks")
      .agg(bloom_build(col("ks"), numBits, k).as("bf"))
    // no false negatives, by construction — every inserted key hits
    val hits = Seq.tabulate(2000)(i => Seq(ins(i))).toDF("ks")
      .crossJoin(broadcast(bloom))
      .filter(bloom_contains_any(col("bf"), col("ks"), k)).count()
    assert(hits == 2000L)
    // strangers: m=64Ki bits, n=2000, k=7 -> per-key fp ~3e-5
    val misses = (1L to 2000L).map(i => Seq(-i)).toDF("ks")
      .crossJoin(broadcast(bloom))
      .filter(bloom_contains_any(col("bf"), col("ks"), k)).count()
    assert(misses <= 10, s"$misses false positives of 2000")
  }

  test("bloom roundtrips through serialize and merges by OR") {
    import spark.implicits._
    import graft.functions.BloomFilters._
    // 64 single-key rows across 16 partitions: every partial holds a
    // few keys, so the final bloom exists only if serialize/merge work
    val keys = (1L to 64L).map(i => Seq(i * 0x517cc1b727220a95L))
    val bloom = keys.toDF("ks").repartition(16)
      .agg(bloom_build(col("ks"), 1 << 12, 5).as("bf"))
    val all = keys.toDF("ks").crossJoin(broadcast(bloom))
      .filter(bloom_contains_any(col("bf"), col("ks"), 5)).count()
    assert(all == 64L)
  }

  test("q68 bloom decontamination: raw tier has zero false negatives " +
      "vs exact q60; two-tier query result IS the exact set") {
    val exact = Dedup.benchShingleHits(
      Tables.documents(spark, sfSmall), 97)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the RAW bloom tier: every contaminated doc must survive it
    // (no false negatives); its doc-level FP rate stays bounded
    val flagged = Dedup
      .bloomProbeSurvivors(Tables.documents(spark, sfSmall), 97)
      .collect().map(_.getLong(0)).toSet
    val leaked = exact -- flagged
    assert(leaked.isEmpty,
      s"${leaked.size} contaminated docs NOT flagged: ${leaked.take(5)}")
    val clean = Tables.documents(spark, sfSmall)
      .filter(col("doc_id") % 97 =!= 0).count() - exact.size
    val fp = (flagged -- exact).size.toDouble / clean
    info(f"bloom decontamination false-positive rate: $fp%.5f")
    assert(fp <= 0.02, f"doc-level FP rate $fp%.4f above 2%%")
    // the registered q68 (bloom prefilter + exact confirm) must emit
    // exactly the exact-tier decision set — that identity is what
    // lets it share q60's oracle
    val q68 = Dedup.decontaminateBloom.fn(spark, sfSmall)
      .collect().map(_.getLong(0)).toSet
    assert(q68 == exact,
      s"two-tier != exact: extra=${(q68 -- exact).take(5)} " +
        s"missing=${(exact -- q68).take(5)}")
  }

  test("q123 attribution reconciles with q60: same contaminated doc " +
      "set, primary rank well-formed") {
    val attr = dedup.Dedup.contaminationAttribution.fn(spark, sfSmall)
      .cache()
    val q60docs = dedup.Dedup.decontaminate.fn(spark, sfSmall)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val attrDocs = attr.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(attrDocs == q60docs,
      s"extra=${attrDocs -- q60docs} missing=${q60docs -- attrDocs}")
    // exactly one rank-1 primary match per doc, ranks contiguous
    val byDoc = attr.groupBy("doc_id")
      .agg(min("rank").as("mn"), max("rank").as("mx"),
        count(lit(1)).as("n"))
    assert(byDoc.filter(col("mn") =!= 1 || col("mx") =!= col("n"))
      .count() == 0)
  }

  test("q91 fuzzy decontamination: no false positives, catches J>=0.9 docs") {
    // brute-force exact cross jaccard (bench x corpus) at sf0.001
    val sets = Dedup.tokenSets(Tables.documents(spark, sfTiny))
    val bench = sets.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("bench_id"), col("toks").as("toks_b"))
    val corpus = sets.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("toks").as("toks_a"))
    val exact = corpus.crossJoin(bench)
      .withColumn("inter",
        sorted_intersect_size(col("toks_a"), col("toks_b")).cast("double"))
      .withColumn("j", col("inter") /
        (size(col("toks_a")) + size(col("toks_b")) - col("inter")))
      .groupBy("doc_id").agg(max("j").as("max_j"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the raw banded-LSH tier (the registered q91 serves the exact
    // regime at this scale)
    val got = Dedup.fuzzyDecontaminateLsh(spark, sfTiny)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // soundness: every flagged doc really has a >= 0.8 bench match
    // (the verify stage is exact, so a report is never inflated) —
    // the reported max can sit BELOW the true max when LSH catches a
    // different >= 0.8 pair than the argmax, so bound, don't equate
    got.foreach { case (id, mj) =>
      assert(exact(id) >= 0.8, s"doc $id flagged but true max ${exact(id)}")
      assert(mj <= exact(id) + 5e-5, s"doc $id reports $mj > true max")
      assert(mj >= 0.8 - 5e-5, s"doc $id reported below threshold: $mj")
    }
    // recall: docs with a J >= 0.9 bench near-dup must all be caught
    val mustCatch = exact.filter(_._2 >= 0.9).keySet
    val missed = mustCatch -- got.keySet
    assert(missed.isEmpty, s"missed high-J contaminated docs: $missed")
    info(s"flagged ${got.size} docs; ${mustCatch.size} had J>=0.9 matches")
  }

  test("q138 span removal matches an independent spec implementation " +
      "and keeps exactly one canonical copy") {
    // Crafted corpus: docs 1, 2, 4 share a verbatim 60-token run (so
    // ~4 of its 45 rolling 16-grams land in the md5-'0' sample); doc
    // 3 is unrelated; doc 2 also has a PRIVATE repeated run that must
    // NOT be removed (df = 1 doc).
    val shared = (1 to 60).map(i => s"s$i").mkString(" ")
    val corpus = Seq(
      1L -> s"${(1 to 10).map(i => s"a$i").mkString(" ")} $shared end1",
      2L -> s"pre2 $shared ${(1 to 8).map(i => s"b$i").mkString(" ")}",
      3L -> (1 to 80).map(i => s"c$i").mkString(" "),
      4L -> s"$shared tail4 $shared")
    val got = Dedup.removeSharedSpans(corpus.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)

    // Independent spec implementation: plain Scala, no Spark — the
    // same semantics spelled a different way (string md5, brute-force
    // df/keeper/coverage).
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = corpus.map { case (id, t) => id -> t.split(" ") }.toMap
    val grams = toks.toSeq.flatMap { case (id, ts) =>
      if (ts.length < Dedup.SpanTokens) Seq.empty
      else (0 to ts.length - Dedup.SpanTokens).map { i0 =>
        (id, i0 + 1, ts.slice(i0, i0 + Dedup.SpanTokens).mkString(" "))
      }
    }.filter { case (_, _, g) => md5hex(g).startsWith("0") }
    val byGram = grams.groupBy(_._3)
    val expected = corpus.map { case (id, _) =>
      val ts = toks(id)
      val starts = grams.collect { case (d, i, g) if d == id &&
        byGram(g).map(_._1).distinct.size >= 2 &&
        byGram(g).map(_._1).distinct.size <= Dedup.SpanDfCap &&
        byGram(g).map(_._1).min < id => i }
      val covered = starts.flatMap(s => s until s + Dedup.SpanTokens).toSet
      val kept = ts.zipWithIndex.collect {
        case (t, i0) if !covered(i0 + 1) => t }
      (id, kept.mkString(" "), (ts.length - kept.length).toLong)
    }.sortBy(_._1)
    assert(got.toSeq == expected, s"got $got\nexpected $expected")

    val removed = got.map(x => x._1 -> x._3).toMap
    // doc 1 is the canonical keeper of every shared span: untouched
    assert(removed(1L) == 0L, "keeper doc must keep all tokens")
    // docs 2 and 4 lose sampled shared spans
    assert(removed(2L) > 0L, "later sharer must lose covered tokens")
    assert(removed(4L) > 0L, "later sharer must lose covered tokens")
    // doc 3 (unrelated) and doc 2's df=1 private text are untouched
    assert(removed(3L) == 0L, "unrelated doc must be untouched")
    info(s"removed per doc: $removed")
  }
}
