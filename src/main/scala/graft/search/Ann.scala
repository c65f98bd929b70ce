package graft.search

import graft.{QueryDef, Tables}
import graft.functions.HashFunctions.{first_equal_packed_band, hyperplane_sig}
import graft.functions.VectorFunctions.cosine_sim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table: exact brute-force
  * top-k as the correctness baseline, and a random-hyperplane-LSH
  * bucketed variant as the scale path (signature bands shuffle-join
  * instead of the all-pairs cross join).
  */
object Ann {

  val K = 5
  private[graft] val NumQueries = 10

  private def queryVecs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  /** Exact brute-force cosine top-k per query vector. The query side
    * is tiny → broadcast; the corpus is scanned once; per-query top-k
    * comes from a rank-limited window (WindowGroupLimit keeps
    * per-partition heaps, so nothing materializes the full score
    * matrix). Oracle-checked against DuckDB list_cosine_similarity.
    */
  val bruteForce: QueryDef = QueryDef.sql(
    "q35_ann_bruteforce",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       | FROM embeddings WHERE vec_id < $NumQueries),
       | s AS (SELECT query_id, vec_id AS neighbor_id,
       |  list_cosine_similarity(CAST(qv AS DOUBLE[]),
       |  CAST(embedding AS DOUBLE[])) AS sim
       |  FROM q JOIN embeddings ON vec_id <> query_id),
       | r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
       | SELECT query_id, neighbor_id, round(sim, 4) AS sim,
       |  CAST(rn AS INT) AS rank FROM r WHERE rn <= $K
       | ORDER BY query_id, rank""".stripMargin.replaceAll("\n", "")
  ) { (s, d) =>
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    broadcast(queryVecs(s, d))
      .join(corpus, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** LSH-bucketed approximate top-k: hyperplane signatures (codegen'd
    * [[graft.functions.HyperplaneSignature]]) split into bands; a
    * corpus vector is a candidate if it shares any band value with the
    * query. Only candidates get the exact cosine. At 100 TB the corpus
    * signature table is computed once (narrow), and the per-band join
    * is an equi shuffle — recall is tuned by nbits/bands (more,
    * narrower bands ⇒ higher recall, more candidates), never by
    * widening to all pairs.
    *
    * Band defaults are corpus-dependent: hyperplane collision prob is
    * 1 − θ/π, so how narrow a band can be depends on how far true
    * neighbors sit above the bulk. The synthetic test corpus is
    * near-random (5th-neighbor cosine ≈ 0.3), the hardest regime, and
    * needs 3-bit × 8 bands for recall@5 ≈ 0.88 (RecallSpec gates
    * ≥ 0.8). Clustered real-world embeddings (neighbors ≥ 0.8 cosine)
    * hold that recall at 6-bit × 4 bands with ~20× fewer candidates —
    * tune per corpus.
    *
    * Query-side contract: the banded QUERY table is broadcast, so this
    * operator is for BOUNDED query batches (≲10⁵ rows × bands — the
    * online-serving shape). An unbounded query side (all-to-all) must
    * not take this path: drop the `broadcast` hint and the same band
    * equi-join shuffles both sides, or better, use [[knnJoin]] — the
    * IVF self-join is the all-to-all operator and routes O(√cells)
    * state per query instead of b× replicating every signature.
    */
  val LshBits = 24
  val LshBands = 8

  val lshTopK: QueryDef = QueryDef.rowsOnly("q36_ann_lsh") { (s, d) =>
    val bandBits = LshBits / LshBands
    val mask = (1L << bandBits) - 1
    def banded(df: DataFrame, vecCol: String, idAs: String,
        sigAs: String) =
      df.select(col(idAs), col(vecCol),
          hyperplane_sig(col(vecCol), LshBits).as(sigAs))
        .select(col(idAs), col(vecCol), col(sigAs),
          posexplode(array((0 until LshBands).map(i =>
            shiftrightunsigned(col(sigAs), i * bandBits)
              .bitwiseAND(lit(mask))): _*))
            .as(Seq("band", "band_val")))
    val q = banded(
      Tables.embeddings(s, d).filter(col("vec_id") < NumQueries)
        .withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("embedding", "qv"), "qv", "query_id", "sig_q")
    val c = banded(
      Tables.embeddings(s, d)
        .withColumnRenamed("vec_id", "neighbor_id"), "embedding",
      "neighbor_id", "sig_c")
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    broadcast(q).join(c, Seq("band", "band_val"))
      .filter(col("neighbor_id") =!= col("query_id"))
      // first-match-band dedup replaces the old `distinct()` that
      // carried BOTH vectors (qv + embedding) through a shuffle: a
      // (query, neighbor) pair colliding in m bands survives only in
      // its first shared band, so nothing after the broadcast join
      // shuffles payload arrays at all — the window below shuffles
      // only (query_id, neighbor_id, sim).
      .filter(first_equal_packed_band(col("sig_q"), col("sig_c"),
        LshBands, bandBits) === col("band"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** q140 — exact FILTERED ANN: top-k under a metadata predicate
    * (neighbor's label must equal the query's label — "search within
    * my class", the pre-filter shape every production vector store
    * exposes). Same scan/window plan as q35 with the equality pushed
    * into the join condition, so non-matching vectors are dropped
    * before any cosine is computed. Fully oracle-checked — the
    * predicate is ANSI-expressible, so filtered-search correctness
    * gets the strong gate, and [[filteredIvfQ]] measures the
    * approximate path against this exact baseline.
    */
  val filteredTopK: QueryDef = QueryDef.sql(
    "q140_ann_filtered",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv,
       |  label AS ql FROM embeddings WHERE vec_id < $NumQueries),
       | s AS (SELECT query_id, vec_id AS neighbor_id,
       |  list_cosine_similarity(CAST(qv AS DOUBLE[]),
       |  CAST(embedding AS DOUBLE[])) AS sim
       |  FROM q JOIN embeddings ON vec_id <> query_id AND label = ql),
       | r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
       | SELECT query_id, neighbor_id, round(sim, 4) AS sim,
       |  CAST(rn AS INT) AS rank FROM r WHERE rn <= $K
       | ORDER BY query_id, rank""".stripMargin.replaceAll("\n", "")
  ) { (s, d) =>
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("label"))
    val q = Tables.embeddings(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("ql"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    broadcast(q)
      .join(corpus, col("neighbor_id") =!= col("query_id") &&
        col("label") === col("ql"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("embedding")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Filtered kNN through a built index: the same cell routing as
    * [[knnQuery]], with the metadata predicate applied to candidates
    * BEFORE any cosine — the filter-then-score order every filtered
    * vector search wants (scoring then filtering wastes the work the
    * index exists to avoid). `labels` attaches the metadata column
    * to the assigned corpus — in a production index the column is
    * carried in the assigned table at build/ingest time (exactly
    * where [[assignVectors]] appends), making this join a no-op;
    * keeping it external here leaves the shared standing index
    * untouched.
    *
    * The recall caveat specific to FILTERED ANN: the predicate thins
    * each probed cell (uniform 10-label data → ~1/10 density), so at
    * a fixed nprobe the filtered candidate pool is ~10× smaller and
    * boundary misses cost proportionally more recall — the
    * q134-style remedy is a wider probe; q141 ships nprobe=12
    * (RecallSpec/SPECGATES carry the measured recall).
    */
  def knnQueryFiltered(index: IvfIndex, queries: DataFrame,
      labels: DataFrame, k: Int = K, nprobe: Int = 8): DataFrame = {
    val probed = routeQueries(index, queries, nprobe)
    val qLab = queries.select(col("vec_id").as("query_id"),
      col("label").as("ql"))
    // same partial top-k spelling as [[knnQuery]] (r18): the
    // filtered candidate stream aggregates where it is produced
    probed.join(broadcast(qLab), "query_id")
      .join(index.assigned, Seq("ccell", "fcell"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label")).hint("shuffle_hash"), "neighbor_id")
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("label") === col("ql"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("nv")).as("sim"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.top_k_agg(
        col("neighbor_id"), col("sim"), k).as("topk"))
      .select(col("query_id"),
        posexplode(col("topk")).as(Seq("pos", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        round(col("nb.score"), 4).as("sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** q141 — filtered ANN through the shared standing IVF index.
    * Rows-only; the gate measures recall@5 against q140's exact
    * filtered scan.
    *
    * Deliberately NOT graduated with q127/q134 (round 12): its exact
    * regime would be q140's query verbatim — same query set, same
    * label predicate, same kernel — so the "graduation" would add a
    * duplicate oracle row, not a newly checked surface. The recall
    * gate already measures this IVF tier against q140's hash-green
    * exact scan, which is the strongest check the operator's
    * approximate semantics admit.
    */
  val filteredIvfQ: QueryDef =
    QueryDef.rowsOnly("q141_ann_filtered_ivf") { (s, d) =>
      val emb = Tables.embeddings(s, d)
      knnQueryFiltered(cachedIndex(s, d, "full", emb),
        emb.filter(col("vec_id") < NumQueries), emb, nprobe = 12)
        .orderBy("query_id", "rank")
    }

  /** IVF-style ANN: a k-means coarse quantizer (trained once over the
    * corpus) assigns every vector to a centroid cell; each query
    * probes its `nprobe` nearest cells and scores only those
    * candidates. The classic inverted-file trade: index once
    * (k-means is itself distributed), then each query touches
    * ~nprobe/k of the corpus instead of all of it — the third point
    * on the exact → LSH → IVF recall/cost curve.
    */
  val ivfTopK: QueryDef = QueryDef.rowsOnly("q48_ann_ivf") { (s, d) =>
    // The shared two-level IVF path with the fixed 10-query
    // workload, served from the session-cached full-corpus index
    // (index once, query many — the operator's premise). nprobe is
    // the same corpus-dependent dial as the LSH bands: the
    // near-random test corpus needs half the (16, at local scale)
    // cells probed for recall@5 ≥ 0.8 (RecallSpec); clustered
    // corpora manage with 2-4. Cell count grows as n/targetCell — a
    // FIXED cell count would mean cell size, and so per-query
    // candidate work, growing linearly with the corpus.
    // nprobe 10 (8 through round 12): at sf0.1 the measured recall@5
    // landed EXACTLY on the 0.800 gate bar — zero margin, one
    // testdata regen from red. Near-random vectors are IVF's worst
    // case (cell ranking barely orders true neighbors), so the honest
    // fix is a wider probe, not a looser gate: two extra cells/query
    // (~+25% candidate volume on a 10-query workload, ~ms) bought
    // recall ≥ 0.86 at all three SFs (SWEEP_r13 q48 entry).
    val emb = Tables.embeddings(s, d)
    knnQuery(cachedIndex(s, d, "full", emb),
      emb.filter(col("vec_id") < 10), k = K, nprobe = 10)
      .orderBy("query_id", "rank")
  }

  /** q73 — SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): cluster
    * the embedding space with a k-means coarse quantizer, then drop,
    * WITHIN each cluster, any vector whose cosine to an
    * already-kept lower-id vector reaches τ. Semantic near-dups (a
    * paraphrase, a re-encode) land in the same cell, so the O(n²)
    * comparison collapses to per-cluster work; pairs straddling a
    * cell boundary are the (small, paper-measured) recall loss.
    *
    * Scale shape: the paper's own recipe — k grows with n so the
    * EXPECTED CLUSTER SIZE stays constant (n/k ≈ 1000 here), the
    * quantizer trains on a bounded sample, and the greedy intra-
    * cluster scan runs as one `flatMapGroups` task per cluster:
    * memory per task is O(cluster·dim), constant by construction,
    * and clusters fan out across executors. No stage touches n².
    */
  // Quantizer-once per (session, dir): the k-means coarse quantizer
  // is the only non-deterministic-from-Python stage of q73, and the
  // replay oracle (r16 verdict item 2) needs the EXACT centroids the
  // query assigned with — so the model is trained once and shared by
  // the query and Verify's `_centroids.json` side dump (the q109
  // mergesFor discipline). Also the compute-once shape a composed
  // pipeline wants: re-running q73 re-prices assignment + greedy
  // drop, not the fit (q73 joins the Bench/Sweep warm family with
  // this change — the accounting note rides the round's SWEEP entry).
  private[graft] def semDedupModel(s: SparkSession, d: String)
      : org.apache.spark.ml.clustering.KMeansModel =
    graft.StandingState(s, ("search.semDedupModel", d)) {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val emb = Tables.embeddings(s, d)
        .withColumn("fv", array_to_vector(col("embedding")))
      val n = emb.count()
      val k = math.max(4, (n / 1000L).toInt)
      val trainCap = 250 * k
      val train =
        if (n <= trainCap) emb
        else emb.sample(withReplacement = false, trainCap.toDouble / n, 42L)
      new KMeans().setK(k).setSeed(42L).setMaxIter(5)
        .setFeaturesCol("fv").setPredictionCol("cell").fit(train)
    }

  /** The trained quantizer's centroids — Verify dumps these (full
    * round-trip precision) as q73's `_centroids.json` so the replay
    * re-derives assignment + greedy drop from the model the query
    * actually used.
    */
  private[graft] def semDedupCentroids(s: SparkSession, d: String)
      : Array[Array[Double]] =
    semDedupModel(s, d).clusterCenters.map(_.toArray)

  val semDedup: QueryDef = QueryDef.rowsOnly("q73_semdedup") { (s, d) =>
    import org.apache.spark.ml.functions.array_to_vector
    import s.implicits._
    val tau = s.conf.getOption("spark.graft.semdedup.tau")
      .map(_.toDouble).getOrElse(0.95)
    val emb = Tables.embeddings(s, d)
      .withColumn("fv", array_to_vector(col("embedding")))
    val model = semDedupModel(s, d)
    val assigned = model.transform(emb)
      .select(col("vec_id"), col("embedding"), col("cell"))
      .as[(Long, Array[Float], Int)]
    assigned.groupByKey(_._3)
      .flatMapGroups { (cell, it) =>
        val members = it.toArray.sortBy(_._1)
        val kept = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])]()
        members.iterator.map { case (id, v, _) =>
          var dupOf = -1L
          val i = kept.iterator
          while (dupOf < 0 && i.hasNext) {
            val (kid, kv) = i.next()
            if (cosineArr(v, kv) >= tau) dupOf = kid
          }
          if (dupOf < 0) kept += ((id, v))
          (id, cell, dupOf < 0, if (dupOf < 0) id else dupOf)
        }
      }
      .toDF("vec_id", "cell", "is_kept", "dup_of")
      .orderBy("vec_id")
  }

  /** splitmix64 finalizer — an unbiased, order-free sampling key for
    * the bounded per-cell training cap (Long.hashCode barely mixes).
    */
  private def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Plain-Scala cosine used inside per-cluster greedy scans (the
    * columnar codegen'd twin is [[graft.functions.CosineSimilarity]]).
    */
  private[search] def cosineArr(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i); i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** q119 — embedding-dimension ablation: exact top-5 recall when
    * similarity uses only the first `dim` components (8/16/32/64) vs
    * the full 64-d vectors — the measurement behind "can we store
    * truncated embeddings?" (matryoshka-style tiering: a 4× dim cut
    * is a 4× cut in index bytes AND ADC arithmetic; this curve says
    * what recall it buys at each step). Each rung is the q35 scan
    * shape (broadcast queries, one corpus pass, WindowGroupLimit
    * top-k) over `slice`d vectors; only #dims scalars reach the
    * driver. Rows-only (recall of engine-ranked lists); the gate pins
    * recall == 1 at full dimension and all rungs within [0, 1].
    */
  val dimRecall: QueryDef = QueryDef.rowsOnly("q119_dim_recall") { (s, d) =>
    import s.implicits._
    val rungs = Seq(8, 16, 32, 64)
    // one eager materialization of the exact baseline (it feeds the
    // semi join AND the recall denominator); localCheckpoint instead
    // of cache+count — same single job, and the denominator below
    // rides the final collect instead of a separate count() action
    val full = bruteForce.fn(s, d).select("query_id", "neighbor_id")
      .localCheckpoint()
    val corpus = Tables.embeddings(s, d)
      .select(col("vec_id").as("neighbor_id"), col("embedding"))
    // ONE corpus pass scores all rungs: a 4-struct array per
    // (query, neighbor) — each rung's cosine over its prefix slice —
    // inlined to (dim, sim) rows, then one window partitioned by
    // (dim, query_id). The old spelling ran the scan+window+semi-join
    // pipeline once PER RUNG (4 sequential jobs plus a driver count
    // each); this is the same ranking semantics (identical window
    // order, identical tiebreak) in a single job tree, and the recall
    // division happens columnar instead of on the driver.
    val w = Window.partitionBy("dim", "query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    val top = broadcast(queryVecs(s, d))
      .join(corpus, col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        explode(array(rungs.map(dim =>
          struct(lit(dim).as("dim"),
            cosine_sim(slice(col("qv"), 1, dim),
              slice(col("embedding"), 1, dim)).as("sim"))): _*)).as("r"))
      .select(col("query_id"), col("neighbor_id"),
        col("r.dim").as("dim"), col("r.sim").as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
      .select("dim", "query_id", "neighbor_id")
    val out = top
      .join(full, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("dim").agg(count(lit(1)).as("hits"))
      .crossJoin(broadcast(full.groupBy().count()
        .select(col("count").as("n_full"))))
      .select(col("dim"),
        (col("hits").cast("double") / col("n_full")).as("recall_at_5"))
      .collect()
    // a rung with zero hits drops out of the groupBy — re-seat it at
    // recall 0.0 so the output always carries all four rungs
    val got = out.map(r => r.getInt(0) -> r.getDouble(1)).toMap
    rungs.map(dim => (dim, got.getOrElse(dim, 0.0)))
      .toDF("dim", "recall_at_5").orderBy("dim")
  }

  /** q76 — per-vector scalar quantization to int8 codes, the storage
    * tier every embedding index at 100 TB sits on (a 768-dim float32
    * vector is 3 KB; its uint8 codes + two floats are ~770 B — a 4×
    * cut before any ANN structure is built). Codes are
    * `floor((x−mn)/(mx−mn)·255)` per vector; reconstruction error is
    * bounded by one step, gated in VectorFunctionsSpec. Every
    * operation is an exact IEEE double op on float-exact inputs, so
    * the codes — emitted stringified, like q46's recs — hash-match
    * the DuckDB oracle bit-for-bit. Narrow, shuffle-free, pipelined
    * with the scan.
    */
  val quantize: QueryDef = QueryDef.sql(
    "q76_embedding_quantize",
    """WITH q AS (SELECT vec_id,
      |  CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
      |  CAST(list_aggregate(embedding, 'max') AS DOUBLE) AS mx,
      |  embedding FROM embeddings)
      | SELECT vec_id, mn, mx, array_to_string(
      |  [CAST(CASE WHEN mx = mn THEN 0 ELSE
      |     floor((CAST(x AS DOUBLE) - mn) / (mx - mn) * 255)
      |   END AS INT) for x in embedding], ',') AS codes
      | FROM q ORDER BY vec_id""".stripMargin.replaceAll("\n", "")
  ) { (s, d) =>
    val mn = array_min(col("embedding")).cast("double")
    val mx = array_max(col("embedding")).cast("double")
    Tables.embeddings(s, d)
      .select(col("vec_id"), mn.as("mn"), mx.as("mx"),
        concat_ws(",", transform(col("embedding"), x =>
          when(mx === mn, lit(0)).otherwise(
            floor((x.cast("double") - mn) / (mx - mn) * 255))
            .cast("int").cast("string"))).as("codes"))
      .orderBy("vec_id")
  }

  /** Dequantized reconstruction of [[quantize]]'s codes — the read
    * path (`x̂ = mn + code/255·(mx−mn)`), for VectorFunctionsSpec's
    * error gate and any consumer scoring against quantized storage.
    */
  def dequantize(codes: Column, mn: Column, mx: Column): Column =
    transform(codes, c =>
      (mn + c.cast("double") / 255.0 * (mx - mn)).cast("float"))

  /** Full-table kNN JOIN: every vector's top-k cosine neighbors
    * within the same table — the all-to-all version of q48's
    * fixed-query IVF (what embedding-dedup, recommendation seeding,
    * and kNN-graph construction actually run). The naive join is
    * n²·dim; the IVF discipline makes it linear-ish: cluster count
    * grows with n so the EXPECTED CELL SIZE stays constant
    * (SemDeDup's sizing, `n/cells ≈ targetCell`), every vector
    * probes its `nprobe` nearest cells, and candidate work is
    * n · nprobe · targetCell — linear in n at fixed dials. Routing
    * is TWO-LEVEL (see [[knnJoinAgainst]]) so no routing structure
    * ever outgrows O(√cells). Recall@k vs the exact scan is
    * gate-measured on a query sample (boundary-straddling pairs are
    * the loss, same as q48/q73). nprobe defaults to 10 here (vs the
    * fixed-workload q48's 8): the self-join's member queries sit at
    * cell boundaries as often as their neighbors do, and the probe
    * fraction shrinks as cells grow with n — measured recall@5 at
    * sf0.1 (56 cells) is 0.788 at nprobe=8 vs 0.876 at 10, for +25%
    * candidate volume. A wider coarse beam (wc = nprobe instead of
    * nprobe/2) was A/B-measured at the same scale and bought nothing
    * on any gate — the fine-probe budget, not coarse routing, is the
    * recall limiter on this corpus.
    */
  def knnJoin(emb: DataFrame, k: Int = 5, nprobe: Int = 10,
      targetCell: Int = 1000): DataFrame =
    knnJoinAgainst(emb, emb, k, nprobe, targetCell)

  /** Replication factor for the fine-centroid joins: the fine table
    * has only kc ≈ √cells DISTINCT `ccell` keys, so an unsalted
    * equi join would hand each reducer an entire coarse cell's worth
    * of rows (n/kc ≈ √cells·targetCell vectors — lumpy at scale).
    * Salting widens the key space to kc·SaltBuckets at the price of
    * replicating a √cells-row table a constant number of times.
    */
  private val SaltBuckets = 8

  /** kNN of `queries` against an IVF-indexed `corpus` — the
    * incremental-ingest path: the quantizer trains on (a sample of)
    * the CORPUS only, so a new-batch lookup is O(Δ · nprobe ·
    * cellsize) — assign, probe, re-rank — never a corpus re-index.
    * The vector companion of [[graft.dedup.Dedup]]'s incremental
    * near-dup (q75). [[knnJoin]] is the self-join special case.
    *
    * The quantizer is TWO-LEVEL (IMI / hierarchical-IVF style): a
    * single-level design keeps the whole `cells = n/targetCell`
    * centroid table driver-resident and broadcasts it for probe
    * routing, which dies at the 100 TB design point — 10¹⁰ vectors
    * is a 10⁷-row, multi-GB routing table, past any broadcast
    * budget, and probing it is O(cells) sims per query. Instead:
    *
    *  1. COARSE layer: a distributed k-means with kc = ⌈√cells⌉
    *    centroids (sample-capped fit, as before). kc is the ONLY
    *    table the driver or a broadcast ever holds — √cells ≈ 3200
    *    rows ≈ 800 KB at 10¹⁰ vectors.
    *  2. FINE layer: within each coarse cell, kf = ⌈cells/kc⌉
    *    spherical-Lloyd centroids trained in ONE distributed pass —
    *    `mapGroups` per coarse cell over a bounded sample (expected
    *    50·kf points/cell, hard-capped in-task), all cells in
    *    parallel, nothing on the driver. The fine table is kc ROWS
    *    (one centroid-ARRAY per coarse cell, ~kf·dim floats each);
    *    its TOTAL size is the old single-level table, but it is only
    *    ever equi-JOINED on `ccell` — never broadcast, never
    *    exploded to (cell, centroid) rows.
    *  3. Corpus assignment: `array_max` argmax-by-cosine over the
    *    row's own coarse cell's centroid array — one narrow
    *    expression after a salted join ([[SaltBuckets]]).
    *  4. Query routing: top-`wc` coarse cells from the broadcast kc
    *    table, then top-`nprobe` fine cells via an in-expression
    *    `sort_array`+`slice` over the wc joined centroid arrays —
    *    per query only wc·nprobe id rows ever materialize, so the
    *    per-query routing cost is (kc + wc·kf) sims ≈ O(√cells),
    *    down from O(cells).
    *
    * Cosine is used for BOTH corpus assignment and query routing
    * (the single-level version mixed euclidean assignment with
    * cosine routing; on unit-norm embeddings the orders coincide,
    * and making them textually identical removes the mismatch class
    * entirely). Candidate scoring and the final top-k window are
    * unchanged — the candidate join shuffles on the (ccell, fcell)
    * pair, cells stay ≈ targetCell by construction, so no skew.
    */
  def knnJoinAgainst(corpus: DataFrame, queries: DataFrame,
      k: Int = 5, nprobe: Int = 8, targetCell: Int = 1000)
      : DataFrame =
    knnQuery(buildIvfIndex(corpus, targetCell), queries, k, nprobe)

  /** A built two-level IVF index: the broadcastable kc-row coarse
    * table, the salted per-coarse-cell fine centroid arrays, and the
    * fine-assigned corpus (both checkpointed). Build once, serve any
    * number of [[knnQuery]] batches — the operational split every
    * vector store runs (index maintenance vs lookup traffic).
    */
  final case class IvfIndex(kc: Int, coarseDf: DataFrame,
      saltedFine: DataFrame, assigned: DataFrame)

  // Index-once per (session, dir, corpus-variant): q48's fixed-query
  // IVF, q127's kNN self-join, and q134's incremental lookup are all
  // "query a standing index" operators, so Verify/Bench running them
  // repeatedly should pay the build exactly once — the same
  // train-once discipline as the ALS model cache.
  private[graft] def cachedIndex(s: SparkSession, d: String,
      variant: String, corpus: => DataFrame): IvfIndex =
    graft.StandingState(s, ("search.ivfIndex", d, variant)) {
      // Standing indexes are served from the PERSISTED form, not the
      // in-memory build: save partitions assigned/ by ccell, so the
      // loaded candidate join carries a dynamic partition-pruning
      // filter (PlanSpec pins it) and each query batch reads only
      // probed cells' files — the scan shape that matters when
      // assigned/ is n corpus rows across n/1000 directories. The
      // save cost is paid once per (session, dir, variant), exactly
      // where a real deployment pays its index-maintenance write.
      val built = buildIvfIndex(corpus)
      val dir =
        graft.StandingState.managedTempDir(s"graft_ivf_$variant").toString +
          "/idx"
      saveIvfIndex(built, dir)
      loadIvfIndex(s, dir)
    }

  /** Persist a built index as three parquet tables — the standing-
    * index lifecycle: index on the maintenance schedule, serve
    * lookups from any later session. The assigned corpus is
    * partitioned by `ccell`, so a loaded index's candidate join is
    * eligible for dynamic partition pruning — the probed side is a
    * handful of cells, so the scan can skip every unprobed cell's
    * files, which a freshly-built in-memory index cannot do.
    */
  def saveIvfIndex(index: IvfIndex, dir: String): Unit = {
    index.coarseDf.write.mode("overwrite").parquet(s"$dir/coarse")
    index.saltedFine.write.mode("overwrite").parquet(s"$dir/fine")
    index.assigned.write.mode("overwrite")
      .partitionBy("ccell").parquet(s"$dir/assigned")
  }

  def loadIvfIndex(s: SparkSession, dir: String): IvfIndex = {
    val fine = s.read.parquet(s"$dir/fine")
    IvfIndex(
      kc = fine.select("ccell").distinct().count().toInt,
      coarseDf = s.read.parquet(s"$dir/coarse"),
      saltedFine = fine,
      assigned = s.read.parquet(s"$dir/assigned"))
  }

  def buildIvfIndex(corpus: DataFrame, targetCell: Int = 1000)
      : IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val s = corpus.sparkSession
    import s.implicits._
    val n = corpus.count()
    val cells = math.max(16, (n / targetCell).toInt)
    val kc = math.max(4, math.ceil(math.sqrt(cells.toDouble)).toInt)
    val kf = math.max(4, math.ceil(cells.toDouble / kc).toInt)
    val withFv = corpus.withColumn("fv",
      array_to_vector(col("embedding")))
    val coarseCap = 250 * kc
    val coarseTrain =
      if (n <= coarseCap) withFv
      else withFv.sample(withReplacement = false,
        coarseCap.toDouble / n, 42L)
    val model = new KMeans().setK(kc).setSeed(42L).setMaxIter(5)
      .setFeaturesCol("fv").setPredictionCol("ccell").fit(coarseTrain)
    val coarseCents: Array[Array[Float]] =
      model.clusterCenters.map(_.toArray.map(_.toFloat))
    // One-row broadcast table carrying all kc coarse centroids: both
    // corpus assignment and query routing argmax over it in-expression.
    val coarseDf = Seq(Tuple1(coarseCents.map(_.toSeq).toSeq))
      .toDF("ccents")
    val coarseAssigned = corpus
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(coarseDf))
      .select(col("vec_id"), col("embedding"),
        bestCoarse(col("embedding")).as("ccell"))
    // Fine quantizers: bounded per-cell sample, one mapGroups pass.
    // 250 points per fine centroid — the same training density the
    // flat quantizer used. Per-cell Lloyd cost is P·kf·dim·iters =
    // O(kf²) — the quadratic is confined to ONE task per coarse
    // cell, all kc cells in parallel; the √cells split balances it
    // against the O(kc) per-query coarse probe.
    val perCellCap = 250 * kf
    val frac = math.min(1.0, perCellCap.toDouble * kc / math.max(n, 1L))
    val fineTrain =
      if (frac >= 1.0) coarseAssigned
      else coarseAssigned.sample(withReplacement = false, frac, 43L)
    val trained = fineTrain
      .select(col("ccell"), col("vec_id"), col("embedding"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .mapGroups { (cc, it) =>
        // hard in-task bound (sampling already bounds the EXPECTED
        // size), made DETERMINISTIC: keep the rows with the lowest
        // mixed-hash(vec_id) via a bounded max-heap, so the trained
        // subset — and therefore the fine centroids and save/load
        // reproducibility — is independent of partitioning/task
        // order (a plain `it.take(cap)` was not). id-sort the
        // survivors for a deterministic Lloyd init.
        val cap = 4 * perCellCap
        val heap = scala.collection.mutable.PriorityQueue
          .empty[(Long, Long, Array[Float])](
            Ordering.by(t => (t._1, t._2)))
        it.foreach { case (_, id, v) =>
          heap.enqueue((mix64(id), id, v))
          if (heap.size > cap) heap.dequeue()
        }
        val pts = heap.toArray.sortBy(_._2).map(_._3)
        (cc, localLloyd(pts, kf, 10).map(_.toSeq).toSeq)
      }
      .toDF("ccell", "fcents")
      .localCheckpoint()
    // A coarse cell can lose every sampled point (tiny cells): back
    // it with its own coarse centroid so corpus rows there survive
    // the inner join. kc ids is a bounded, O(√cells) driver list.
    val present = trained.select("ccell").as[Int].collect().toSet
    val fineCents =
      if (present.size == kc) trained
      else trained.unionByName(
        (0 until kc).filterNot(present)
          .map(cc => (cc, Seq(coarseCents(cc).toSeq)))
          .toDF("ccell", "fcents"))
    val saltedFine = fineCents
      .withColumn("salt",
        explode(array((0 until SaltBuckets).map(lit): _*)))
    val assigned = coarseAssigned
      .withColumn("salt", pmod(hash(col("vec_id")), lit(SaltBuckets)))
      .join(saltedFine.hint("shuffle_hash"), Seq("ccell", "salt"))
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("ccell"),
        array_max(fineScores(col("embedding")))("fcell").as("fcell"))
      .localCheckpoint()
    IvfIndex(kc, coarseDf, saltedFine, assigned)
  }

  /** Shared per-element scorer over a row's fine-centroid array. */
  private def fineScores(vec: Column): Column =
    transform(col("fcents"), (c, i) =>
      struct(cosine_sim(vec, c).as("sim"), i.as("fcell")))

  /** Argmax-by-cosine over the broadcast one-row coarse-centroid
    * array — shared by the index build and [[assignVectors]].
    */
  private def bestCoarse(vec: Column): Column =
    array_max(transform(col("ccents"), (c, i) =>
      struct(cosine_sim(vec, c).as("sim"), i.as("cell"))))("cell")

  /** Assign `vecs` (vec_id, embedding) to the (ccell, fcell) cells of
    * a BUILT index — the ingest half of incremental indexing: a new
    * batch lands in the standing quantizer's cells without touching
    * the quantizer itself. Same expressions as the build-time corpus
    * assignment (coarse argmax over the broadcast kc-row table, fine
    * argmax after the salted equi join), so an appended row's cell is
    * IDENTICAL to what a batch re-assignment through the same frozen
    * index would give — [[graft.search.Pq]]'s append-parity gate
    * (q139) pins that pair-for-pair.
    */
  def assignVectors(index: IvfIndex, vecs: DataFrame): DataFrame =
    vecs.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(index.coarseDf))
      .select(col("vec_id"), col("embedding"),
        bestCoarse(col("embedding")).as("ccell"))
      .withColumn("salt", pmod(hash(col("vec_id")), lit(SaltBuckets)))
      .join(index.saltedFine.hint("shuffle_hash"), Seq("ccell", "salt"))
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), col("ccell"),
        array_max(fineScores(col("embedding")))("fcell").as("fcell"))

  /** The routing half of [[knnQuery]]: the (query_id, qv, ccell,
    * fcell) probe set for `queries` against a built index — top-wc
    * coarse cells from the broadcast kc table, then top-nprobe fine
    * cells across the wc joined centroid arrays. Exposed so scoring
    * variants (exact cosine in [[knnQuery]], ADC in
    * [[Pq.ivfPqTopK]]) share one routing implementation.
    */
  private[search] def routeQueries(index: IvfIndex,
      queries: DataFrame, nprobe: Int): DataFrame = {
    // wc coarse cells per query: enough that the nprobe fine cells
    // are chosen from a superset of the best coarse regions. At the
    // local floor (kc=4) this probes every coarse cell, so recall
    // matches the single-level selection; at scale wc/kc vanishes.
    val wc = math.max(2, math.min(index.kc,
      math.ceil(nprobe / 2.0).toInt))
    // Query routing: top-wc coarse (broadcast), then top-nprobe fine
    // across the wc joined centroid arrays — candidates never leave
    // the expression layer until the final wc·nprobe id rows.
    val coarseProbed = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(index.coarseDf))
      .select(col("query_id"), col("qv"),
        explode(slice(sort_array(transform(col("ccents"), (c, i) =>
          struct(cosine_sim(col("qv"), c).as("csim"), i.as("ccell"))),
          asc = false), 1, wc)).as("cp"))
      .select(col("query_id"), col("qv"), col("cp.ccell").as("ccell"))
    val probeW = Window.partitionBy("query_id")
      .orderBy(desc("psim"), asc("ccell"), asc("fcell"))
    coarseProbed
      .withColumn("salt", pmod(hash(col("query_id")), lit(SaltBuckets)))
      .join(index.saltedFine.hint("shuffle_hash"), Seq("ccell", "salt"))
      .select(col("query_id"), col("qv"), col("ccell"),
        explode(slice(sort_array(fineScores(col("qv")), asc = false),
          1, nprobe)).as("fp"))
      .select(col("query_id"), col("qv"), col("ccell"),
        col("fp.fcell").as("fcell"), col("fp.sim").as("psim"))
      .withColumn("prn", row_number().over(probeW))
      .filter(col("prn") <= nprobe)
      .select("query_id", "qv", "ccell", "fcell")
  }

  /** Route `queries` through a built [[IvfIndex]] and return top-k
    * neighbors per query — the lookup half of the operator.
    */
  def knnQuery(index: IvfIndex, queries: DataFrame, k: Int = 5,
      nprobe: Int = 8): DataFrame = {
    val probed = routeQueries(index, queries, nprobe)
    // Top-k as a PARTIAL-aggregating top_k_agg, not a row_number
    // window (r18, q127-at-100× find): the window shuffled and
    // sorted EVERY candidate row by query_id — n·nprobe·targetCell
    // rows (2×10⁹ at the 100× point), which crossed into a 22 GB
    // sort spill and made the 30×→100× decade super-linear (8.1×
    // wall for 3.3× data). The bounded aggregate keeps ≤k entries
    // per (partition, query) map-side, so the exchange carries
    // ≤ partitions·k rows per query and the candidate stream is
    // consumed where it is produced — at 10¹⁰ vectors the window's
    // full-candidate shuffle is the job, the aggregate's is noise.
    // Ordering semantics are IDENTICAL (score DESC, id ASC ties —
    // TopKAgg.Buf.beats mirrors the old orderBy), except degenerate
    // NaN sims (zero-norm vectors), which the window ranked first
    // and the aggregate drops (rejected at Buf.insert — a NaN slot
    // would otherwise be unbeatable under comparison ordering).
    probed.join(index.assigned, Seq("ccell", "fcell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("nv")).as("sim"))
      .groupBy("query_id")
      .agg(graft.functions.TopKAgg.top_k_agg(
        col("neighbor_id"), col("sim"), k).as("topk"))
      .select(col("query_id"),
        posexplode(col("topk")).as(Seq("pos", "nb")))
      .select(col("query_id"), col("nb.id").as("neighbor_id"),
        round(col("nb.score"), 4).as("sim"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** In-task spherical Lloyd for the fine quantizers: assign by
    * cosine, update by mean, deterministic farthest-point init
    * (greedy k-means++-style over the id-sorted sample — random
    * init measurably cost recall on the flat quantizer, and matters
    * more here where each cell fits few centroids), empty clusters
    * keep their previous centroid. Bounded by construction — the
    * caller caps the point set, and k·|points|·dim·iters flops per
    * coarse cell run inside one executor task, all cells in
    * parallel.
    */
  private[search] def localLloyd(points: Array[Array[Float]], k: Int,
      iters: Int): Array[Array[Float]] = {
    if (points.isEmpty) return Array.empty
    val kk = math.max(1, math.min(k, points.length))
    val dim = points(0).length
    // Greedy spread init, min-sim criterion: each next center is the
    // not-yet-chosen point with the lowest minimum similarity to any
    // chosen center. Two candidate criteria were A/B-measured on the
    // q127 gate (near-random synthetic corpus, recall@5 vs exact):
    // this one 0.832, the textbook farthest-point rule (minimize MAX
    // similarity to chosen centers) 0.776 — the max-sim rule chases
    // outliers into tiny cells and leaves the dense bulk under-
    // covered, exactly where boundary-straddle recall loss lives.
    // Chosen points are EXCLUDED from re-selection (`taken`): the
    // earlier unguarded scan could re-pick a chosen point on sim
    // ties, yielding duplicate centers and fewer than kk centroids.
    val minSim = Array.fill(points.length)(Double.PositiveInfinity)
    val taken = new Array[Boolean](points.length)
    val chosen = new Array[Int](kk)
    chosen(0) = 0
    taken(0) = true
    var ci = 1
    while (ci < kk) {
      val last = points(chosen(ci - 1))
      var p = 0
      var worst = -1; var worstSim = Double.PositiveInfinity
      while (p < points.length) {
        val sim = cosineArr(points(p), last)
        if (sim < minSim(p)) minSim(p) = sim
        if (!taken(p) && minSim(p) < worstSim) {
          worstSim = minSim(p); worst = p
        }
        p += 1
      }
      chosen(ci) = worst
      taken(worst) = true
      ci += 1
    }
    var cents = Array.tabulate(kk)(i => points(chosen(i)).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val cnts = new Array[Long](kk)
      var p = 0
      while (p < points.length) {
        val v = points(p)
        var best = 0; var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          val sim = cosineArr(v, cents(c))
          if (sim > bestSim) { bestSim = sim; best = c }
          c += 1
        }
        val srow = sums(best)
        var j = 0
        while (j < dim) { srow(j) += v(j); j += 1 }
        cnts(best) += 1
        p += 1
      }
      var c = 0
      while (c < kk) {
        if (cnts(c) > 0) {
          val nc = new Array[Float](dim)
          var j = 0
          while (j < dim) { nc(j) = (sums(c)(j) / cnts(c)).toFloat; j += 1 }
          cents(c) = nc
        }
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Self-join pair bound (n²) under which q127 serves the EXACT
    * kNN self-join — q35's cross-join + window plan with every
    * vector a query — and is DuckDB-oracle-checked; above it the
    * IVF-served path (recall-gated ≥ 0.8). The bound is
    * pair-denominated because both the Spark plan AND the oracle are
    * quadratic there: 25M pairs ≈ 5k vectors keeps the DuckDB side
    * in seconds (measured at sf0.1's 4M pairs — SWEEP_r12).
    * Override with `spark.graft.exactKnnPairLimit`.
    *
    * Kept at 25M after the round-13 one-pass-sort fix (the Spark
    * materialized path is ~1.94× faster, which alone would afford
    * ~50M): the bound prices the ORACLE's n² DuckDB join too, and
    * that side gains nothing from a Spark plan fix — doubling the
    * regime would double verify-time oracle cost at the boundary for
    * no checked-surface gain (SWEEP_r13 knn_kernel_pricing).
    */
  def exactKnnPairLimit(s: SparkSession): Long =
    s.conf.getOption("spark.graft.exactKnnPairLimit")
      .map(_.toLong).getOrElse(25000000L)

  private def q127ExactOk(s: SparkSession, d: String): Boolean =
    graft.Scale.within(s, s"$d#q127_pairs", exactKnnPairLimit(s))({
      val n = Tables.embeddings(s, d).count(); n * n
    })

  /** The raw IVF tier measured by the q127 gate, independent of
    * which regime the registered query serves: the self-join served
    * from the SHARED standing "full" index (q48/q136's) — a
    * production kNN-graph build over an already-indexed corpus
    * reuses the index rather than re-training a second identical
    * quantizer in the same job; the index build is paid once per
    * (session, dir) wherever its first consumer lands. The generic
    * [[knnJoin]] keeps the inline build for arbitrary DataFrames.
    */
  def knnJoinIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    knnQuery(cachedIndex(s, d, "full", emb), emb, k = 5, nprobe = 10)
      .orderBy("query_id", "rank")
  }

  /** q127 — the kNN self-join over the embeddings table (top-5 per
    * vector) with a REGIME (the q68 graduation pattern): below
    * [[exactKnnPairLimit]] the exact broadcast cross-join + window
    * top-k (same kernel as q35, so the rounding-parity discipline is
    * inherited) with a full DuckDB oracle; above it the IVF path,
    * whose recall gate keeps measuring the raw tier
    * ([[knnJoinIvf]]) in both regimes.
    */
  val knnJoinQ: QueryDef = QueryDef.sqlCutover(
    "q127_knn_join",
    """WITH s AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
      |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |  CAST(b.embedding AS DOUBLE[])) AS sim
      |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
      | r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
      |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      |  FROM s)
      | SELECT query_id, neighbor_id, round(sim, 4) AS sim,
      |  CAST(rn AS INT) AS rank FROM r WHERE rn <= 5
      | ORDER BY query_id, rank""".stripMargin.replaceAll("\n", "")
  ) { (s, d) => !q127ExactOk(s, d) } { (s, d) =>
    val emb = Tables.embeddings(s, d)
    if (q127ExactOk(s, d)) exactKnnPairs(emb, emb)
    else knnJoinIvf(s, d)
  }

  /** Exact top-k of `queries` against `corpus` with the full
    * (sim, rank) output — the oracle-facing spelling of
    * [[exactTopKAgainst]] (the q35 kernel, so rounding parity is
    * inherited). Serves the exact regimes of q127/q134; affordable
    * below [[exactKnnPairLimit]] pairs, where the CORPUS side is
    * bounded enough to broadcast (≤ √pairs rows × ~300 B).
    *
    * Plan shape: broadcast the corpus, STREAM the queries hashed on
    * query_id — the query table out of a small parquet scan is a
    * handful of partitions, and a nested loop inherits the stream
    * side's parallelism, so streaming it unrepartitioned ran the
    * whole O(n²) cosine pass on ~1 core (measured 5.6 s at 4M pairs;
    * 1.0 s after). Hashing on query_id also IS the window's required
    * distribution, so the per-query top-k sorts locally with no
    * second shuffle of the n² pair stream.
    *
    * Kernel pricing (round 13 — the r12 "residual
    * ~0.8 µs/pair" question, closed by measurement): a packed-
    * BinaryType spelling ([[graft.functions.PackFloats]] +
    * [[graft.functions.CosineSimilarityPacked]], bit-identical
    * arithmetic) was built and measured at the SAME sort shape —
    * 2.775 s vs this array spelling's 2.714 s over 4M pairs
    * (kernel-only: array 0.16 vs packed 0.19 µs/pair). The array
    * kernel KEEPS: UnsafeArrayData float access is already flat, and
    * packing only adds a prep projection. What the measurement DID find
    * was the final orderBy executing the n² pipeline twice on every
    * materialized run — fixed below; the operator's collect/write
    * path is 1.94× faster round-over-round (5.37 → 2.71 s).
    */
  def exactKnnPairs(corpus: DataFrame, queries: DataFrame,
      k: Int = K): DataFrame = {
    // Partition count PINNED (r19): `repartition(col)` alone lets AQE
    // coalesce the exchange by its BYTES — and the query table is a
    // few hundred KB, so the whole O(n²) cosine+window pipeline
    // downstream of it ran in ONE task (StageProbe r19: a single
    // 2.5 s task held 94% of q127's wall at sf0.1). The shuffle is
    // cheap metadata; the work it fans out is n²·dim — size the
    // exchange to the CLUSTER's parallelism, not the bytes.
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("qv"))
      .repartition(queries.sparkSession.sparkContext.defaultParallelism,
        col("query_id"))
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("nv"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    q.join(broadcast(c), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("nv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"), col("rank"))
      // Global (query_id, rank) order WITHOUT a range sort: orderBy
      // samples its child to pick range bounds, which executes the
      // whole n² join+window pipeline TWICE (measured ~2× on this
      // operator — SWEEP_r13 knn_kernel_pricing). The top-k output
      // is ≤ k·|queries| rows, so one single-partition shuffle +
      // local sort delivers the same total order in one pass.
      .repartition(1).sortWithinPartitions("query_id", "rank")
  }

  private def q134ExactOk(s: SparkSession, d: String): Boolean =
    graft.Scale.within(s, s"$d#q134_pairs", exactKnnPairLimit(s))({
      val emb = Tables.embeddings(s, d)
      emb.filter(col("vec_id") % 10 === 0).count() *
        emb.filter(col("vec_id") % 10 =!= 0).count()
    })

  /** The raw IVF tier measured by the q134 gate, independent of
    * which regime the registered query serves: the 1-in-10 delta
    * slice searched against the remaining 9/10 corpus through the
    * corpus-trained, session-cached IVF index — an incremental-
    * ingest lookup never re-indexes the standing corpus. nprobe 10
    * (vs the self-join's 8): delta queries are OUTSIDE the corpus
    * the quantizer was trained on, so their cell ranking is noisier
    * than a member vector's — the wider probe buys back the
    * out-of-sample recall loss for +25% candidate volume on the
    * (small) delta side only.
    */
  def knnIncrementalIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    knnQuery(
      cachedIndex(s, d, "mod10", emb.filter(col("vec_id") % 10 =!= 0)),
      emb.filter(col("vec_id") % 10 === 0), nprobe = 10)
      .orderBy("query_id", "rank")
  }

  /** q134 — incremental kNN lookup (the 1-in-10 vec_id slice plays
    * the newly-ingested batch, searched against the remaining 9/10
    * corpus) with a REGIME (the q68 graduation pattern, q127's
    * delta-vs-corpus sibling): below [[exactKnnPairLimit]]
    * delta×corpus pairs the exact broadcast scan serves with a full
    * DuckDB oracle; above it the IVF path, whose recall gate keeps
    * measuring the raw tier ([[knnIncrementalIvf]]) in both regimes.
    */
  val knnIncrementalQ: QueryDef = QueryDef.sqlCutover(
    "q134_knn_incremental",
    s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
       | FROM embeddings WHERE vec_id % 10 = 0),
       | s AS (SELECT query_id, vec_id AS neighbor_id,
       |  list_cosine_similarity(CAST(qv AS DOUBLE[]),
       |  CAST(embedding AS DOUBLE[])) AS sim
       |  FROM q JOIN embeddings ON vec_id % 10 <> 0),
       | r AS (SELECT query_id, neighbor_id, sim, row_number() OVER
       |  (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
       |  FROM s)
       | SELECT query_id, neighbor_id, round(sim, 4) AS sim,
       |  CAST(rn AS INT) AS rank FROM r WHERE rn <= $K
       | ORDER BY query_id, rank""".stripMargin.replaceAll("\n", "")
  ) { (s, d) => !q134ExactOk(s, d) } { (s, d) =>
    val emb = Tables.embeddings(s, d)
    if (q134ExactOk(s, d))
      exactKnnPairs(emb.filter(col("vec_id") % 10 =!= 0),
        emb.filter(col("vec_id") % 10 === 0))
    else knnIncrementalIvf(s, d)
  }

  /** Exact top-k for a bounded query-id sample — the gate's
    * baseline. Brute force over queries × corpus, fine for ≤100
    * query ids at verify scale.
    */
  def exactTopK(emb: DataFrame, queryIds: Long, k: Int = 5)
      : DataFrame =
    exactTopKAgainst(emb, emb.filter(col("vec_id") < queryIds), k)

  /** Exact top-k of `queries` against a separate `corpus` — the
    * delta-lookup gate baseline.
    */
  def exactTopKAgainst(corpus: DataFrame, queries: DataFrame,
      k: Int = 5): DataFrame = {
    val q = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("sim"), asc("neighbor_id"))
    broadcast(q).crossJoin(
        corpus.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("nv")))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine_sim(col("qv"), col("nv")).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id")
  }

  val defs: Seq[QueryDef] =
    Seq(bruteForce, lshTopK, ivfTopK, semDedup, quantize, dimRecall,
      knnJoinQ, knnIncrementalQ, filteredTopK, filteredIvfQ)
}
