package graft.dedup

import graft.{QueryDef, Scale, StandingState, Tables}
import graft.functions.HashFunctions._
import graft.functions.VectorFunctions.cosine_sim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  * None exist in the reference (its closest analogue is rating
  * `distinct`, `OfflineRecommender.scala:60-61`); these are the
  * engine's first-class extensions over the `documents` /
  * `embeddings` tables.
  *
  * Scale design: every variant is blocking-based — signatures are
  * computed per-row (one narrow pass), candidate pairs come from a
  * shuffle on (band, signature) keys, and only candidates are
  * verified. Nothing here is O(n²) except the explicitly-bounded
  * exact paths.
  */
object Dedup {

  private def tokens(c: Column): Column = array_distinct(split(c, " "))

  /** Exact dedup: group by content hash, keep the smallest doc_id.
    * One hash-aggregate shuffle; at 100 TB this is the cheapest
    * possible full-corpus dedup (md5 computed scan-side, partial agg
    * map-side).
    */
  val exact: QueryDef = QueryDef.sql(
    "q30_dedup_exact",
    """SELECT md5(text) AS fingerprint, min(doc_id) AS keep_doc_id,
      | count(*) AS dup_cnt FROM documents GROUP BY fingerprint
      | ORDER BY keep_doc_id""".stripMargin.replaceAll("\n", "")
  ) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(md5(col("text")).as("fingerprint"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_cnt"))
      .orderBy("keep_doc_id")
  }

  /** MinHash + LSH near-dup pairs (Broder 1997 resemblance sketch):
    * K=64 minhashes over the distinct-token set, banded 8×8; docs
    * sharing any band bucket become candidates; candidates are
    * verified with exact Jaccard ≥ 0.9. The only shuffles are the
    * band-bucket groupings — never an all-pairs join.
    *
    * Banding is tuned to the threshold: the S-curve midpoint
    * (1/b)^(1/r) is 0.77 for 8×8 (vs 0.59 for 8×4), so a J=0.9 pair
    * is still caught with p ≈ 0.99 while the mid-similarity bulk of a
    * template-heavy corpus — the candidate-explosion failure mode at
    * 100 TB — mostly never reaches a bucket.
    */
  val minhashLsh: QueryDef = QueryDef.rowsOnly("q31_dedup_minhash_lsh") {
    (s, d) => verifiedPairs(s, d)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** Compute-once-per-sfDir verified near-dup pairs (same pattern as
    * `ml.Recommend.model`): the pair listing (q31) and the keeper-set
    * clustering (q49) are stages of one curation pipeline and share
    * the LSH pass when run in one session.
    */
  /** The two checkpointed artifacts of one shared LSH pass: exact-dup
    * group membership (`mem`: rep → doc_id, every doc exactly once)
    * and verified REPRESENTATIVE pairs. The m²-per-clique pair
    * expansion is q31's reporting contract, not a clustering cost —
    * so consumers pick their shape: q31 expands, q49 takes the sparse
    * star+rep edge set with identical connectivity.
    */
  private[dedup] case class CollapsedPairs(mem: DataFrame,
      repPairs: DataFrame)

  private def collapsedPairs(s: SparkSession, d: String): CollapsedPairs =
    StandingState(s, ("dedup.collapsedPairs", d)) {
      // The token-set table feeds three subtrees (signature build +
      // two candidate re-attach joins); persist it while the
      // artifacts materialize, then release.
      val sets = tokenSets(Tables.documents(s, d))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // localCheckpoint (eager), not cache(): the CC consumer (q49)
      // re-analyzes the full lineage in every iterative round — a
      // leaf plan keeps that analysis O(1) instead of O(plan size)
      val (mem, reps) = collapseGroups(sets)
      val out = CollapsedPairs(
        mem.localCheckpoint(),
        verifyRepPairs(reps, numHashes = 64, bands = 8, threshold = 0.9)
          .localCheckpoint())
      sets.unpersist()
      out
    }

  /** Compute-once-per-sfDir verified near-dup pairs, fully expanded
    * (q31's contract; RecallSpec gates them). Expansion runs over the
    * two checkpointed leaves — ids-only joins.
    */
  def verifiedPairs(s: SparkSession, d: String): DataFrame = {
    val cp = collapsedPairs(s, d)
    expandPairs(cp.mem, cp.repPairs)
  }

  /** Sparse near-dup edge set with the SAME connectivity as
    * [[verifiedPairs]]: one star edge per exact-dup clique member
    * (rep → member, m−1 edges instead of m²/2 pairs) plus the
    * representative pairs. The right input for connected components —
    * a crawl-scale clique of 10⁴ identical docs contributes 10⁴
    * edges, not 5·10⁷.
    */
  def nearDupEdges(s: SparkSession, d: String): DataFrame = {
    val cp = collapsedPairs(s, d)
    val star = cp.mem.filter(col("rep") =!= col("doc_id"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    star.unionByName(cp.repPairs.select("doc_a", "doc_b"))
  }

  /** Distinct word-token sets as SORTED 64-bit hashes — the input
    * shape of every minhash stage (see minhashPairs for why hashes).
    */
  def tokenSets(docs: DataFrame): DataFrame =
    // narrow-scan guard (r18, q75-at-100× find): tokenize + the
    // downstream minhash perms are the text tier's decode-equivalent
    // — a one-row-group table must not serialize them into one task
    graft.Scale.rebalanceNarrowScan(docs).select(col("doc_id"),
      array_sort(array_distinct(transform(tokens(col("text")),
        t => xxhash64(t)))).as("toks"))

  def minhashPairs(docs: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    // Token sets as SORTED 64-bit hashes: every downstream set
    // operation (minhash, intersect) compares longs instead of
    // strings, and the exact-verify intersection is a linear merge
    // ([[graft.functions.SortedIntersectSize]]) instead of a hash set
    // per pair. xxhash64 collisions within a ~1k-token doc are
    // vanishingly rare. Accepts either raw documents or an already
    // tokenized `(doc_id, toks)` table.
    val toks =
      if (docs.columns.contains("toks")) docs else tokenSets(docs)
    minhashPairsFromSets(toks, numHashes, bands, threshold)
  }

  /** MinHash+LSH near-dup pairs over pre-hashed SORTED element sets
    * `(doc_id, toks: array<long>)` — the shared core of the word-token
    * variant (q31) and the shingle-set scale path (q33 above the exact
    * limit). Jaccard here is over whatever set the caller hashed.
    */
  def minhashPairsFromSets(sets: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val (mem, reps) = collapseGroups(sets)
    expandPairs(mem, verifyRepPairs(reps, numHashes, bands, threshold))
  }

  /** Exact-duplicate collapse BEFORE the LSH pass: crawl-scale
    * corpora are exact-dup-heavy, and a clique of identical sets
    * costs the bucket join m² combos in EVERY band. Identical sets
    * have identical signatures, hence identical candidacy and
    * identical Jaccard against everything — so LSH runs on one
    * representative per distinct set and pairs expand afterwards,
    * emitting EXACTLY what the direct pass would (intra-group pairs
    * are Jaccard 1.0 and always collide; cross-group pairs inherit
    * the representatives' value verbatim). Grouping is by a 128-bit
    * key — TWO independent xxhash64 passes over the hashed-token
    * array (the second salted) — because a single 64-bit key is a
    * birthday bound over ALL docs (unlike the ~1k-item per-doc token
    * hashing): at 10⁹ docs P(any collision) ≈ 2.7%, and one collision
    * silently merges two different docs (false Jaccard-1.0 pair, one
    * doc dropped from LSH representation). At 128 bits the same bound
    * is ~10⁻²⁰. Only ids+two longs ride the shuffle; the token
    * payload never moves. Returns (membership rep→doc_id for every
    * doc, representative rows with their token sets).
    */
  private[dedup] def collapseGroups(
      toks: DataFrame): (DataFrame, DataFrame) = {
    val hashed = toks.select(col("doc_id"), xxhash64(col("toks")).as("sh"),
      xxhash64(lit(0x5851f42dL), col("toks")).as("sh2"))
    val groups = hashed.groupBy("sh", "sh2").agg(min("doc_id").as("rep"))
    val mem = hashed.join(groups, Seq("sh", "sh2"))
      .select(col("rep"), col("doc_id"))
    val reps = toks.join(
      groups.select(col("rep").as("doc_id")), "doc_id")
    (mem, reps)
  }

  /** Banded candidates over the representatives, exact-verified by
    * merge-intersect; emits `(doc_a, doc_b, jaccard)` at or above the
    * threshold.
    */
  private[dedup] def verifyRepPairs(reps: DataFrame, numHashes: Int,
      bands: Int, threshold: Double): DataFrame =
    candidatePairs(reps, numHashes, bands, threshold)
      .join(reps.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")),
        "doc_a")
      .join(reps.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")),
        "doc_b")
      .withColumn("inter",
        sorted_intersect_size(col("toks_a"), col("toks_b")).cast("double"))
      .withColumn("jaccard",
        col("inter") /
          (size(col("toks_a")) + size(col("toks_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      // RAW quotient, consistent with the exact branches that share
      // consumers (q33): jaccard of integer counts is exact on both
      // engines, so rounding is representation change, not parity —
      // display-rounding is the consumer's call (q31 rounds).
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Expand representative pairs to the full member-pair listing. */
  private[dedup] def expandPairs(mem: DataFrame,
      repPairs: DataFrame): DataFrame = {
    // intra-group: every member pair of a distinct-set group is an
    // exact dup (Jaccard 1.0 — the same bits the direct verify
    // computes for identical sets)
    val intra = mem.select(col("rep"), col("doc_id").as("doc_a"))
      .join(mem.select(col("rep"), col("doc_id").as("doc_b")), "rep")
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), lit(1.0).as("jaccard"))
    // cross-group: expand representative pairs to all member pairs
    val cross = repPairs
      .join(mem.select(col("rep").as("doc_a"), col("doc_id").as("ma")),
        "doc_a")
      .join(mem.select(col("rep").as("doc_b"), col("doc_id").as("mb")),
        "doc_b")
      .select(least(col("ma"), col("mb")).as("doc_a"),
        greatest(col("ma"), col("mb")).as("doc_b"), col("jaccard"))
    intra.unionByName(cross)
  }

  /** LSH candidate id pairs `(doc_a, doc_b)` over pre-hashed sorted
    * sets — the banded-bucket stage of [[minhashPairsFromSets]],
    * split out so the profiler can time candidate generation apart
    * from exact verification.
    */
  /** Banded minhash signature table `(doc_id, sz, pref, bh, band,
    * band_hash)` — the LSH index representation. In a production
    * incremental pipeline this is exactly the table you PERSIST as
    * the corpus index (it is ids + a few dozen longs per doc; the
    * token payload stays in the store) and re-read when a new batch
    * arrives ([[incrementalPairs]]).
    *
    * Estimate-prefix length: 32 minhash samples bound the Broder
    * estimator's σ at √(p(1-p)/32) ≈ 0.053, so a `threshold - 0.25`
    * cut sits ~4.7σ under a true pair (miss ≈ 2e-6 — a 16-hash
    * prefix measurably dropped 0.5% of true pairs) while the
    * join-side payload still shrinks ~40% vs carrying all K hashes.
    */
  private[dedup] def bandedSig(toks: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    val prefLen = math.min(numHashes, 32)
    // K minhash values in one codegen'd pass ([[MinHashSignature]]);
    // band b hashes its `rows` consecutive minhashes. Only the band
    // hashes (`bands` longs) and the estimate prefix (≤32 longs) ride
    // the bucket join — NOT the K-long signature: at K=64 that is a
    // ~3× cut in both shuffled bytes and per-combo filter work, the
    // dominant cost on a clique-heavy corpus where every bucket pair
    // is evaluated m² times.
    val sig = toks.select(col("doc_id"), size(col("toks")).as("sz"),
      minhash_sig(col("toks"), numHashes).as("mh"))
    def bandHashArr = array((0 until bands).map(b =>
      xxhash64((0 until rows).map(r => col("mh")(b * rows + r)): _*)): _*)
    // posexplode over the INLINE array, not the `bh` attribute: the
    // optimizer infers a `size(input) > 0` filter under a Generate,
    // and on an inline fixed-length array it constant-folds away —
    // on an attribute it survives, gets pushed below the projections,
    // and inlines the whole minhash+tokenize tree 64× into the filter
    // (measured 8× the query). The duplicate 8 xxhash64-of-long calls
    // (bh column + explode input) are noise by comparison.
    sig.select(col("doc_id"), col("sz"),
      slice(col("mh"), 1, prefLen).as("pref"), bandHashArr.as("bh"),
      posexplode(bandHashArr).as(Seq("band", "band_hash")))
  }

  def candidatePairs(toks: DataFrame, numHashes: Int, bands: Int,
      threshold: Double): DataFrame = {
    val prefLen = math.min(numHashes, 32)
    val banded = bandedSig(toks, numHashes, bands)
    // Bucket self-join. Only `banded` (n×bands rows) is shuffled — the
    // m²-per-bucket pair blowup happens join-side and is filtered in
    // the same stage, never materialized or re-shuffled:
    //  * first-match-band dedup replaces a `distinct` over the pair
    //    blowup (template-heavy corpora make that distinct the single
    //    most expensive shuffle in the query); comparing the BAND
    //    HASHES — the very values that define bucket membership —
    //    keeps dedup exactly consistent with the join key;
    //  * size-ratio is a necessary condition for J ≥ t (J ≤ min/max);
    //  * signature agreement estimates J (Broder) from the 32-hash
    //    prefix, discarding the mid-similarity bulk before the exact
    //    verify join.
    // Token sets re-attach by key only for surviving candidates.
    //
    // Dataset ALIASES of the one banded plan, so the two bucket-key
    // exchanges are sameResult and ReuseExchange computes the
    // tokenize → minhash → band pipeline and its shuffle-write ONCE;
    // renaming doc_id→doc_a/doc_b BELOW the exchange (the prior
    // spelling) breaks sameResult and runs the signature pass twice,
    // once per join side (the q124 lesson, applied to the family's
    // most expensive upstream).
    val estJaccard =
      sig_matches(col("p.pref"), col("q.pref")).cast("double") / prefLen
    banded.as("p")
      .join(banded.as("q"),
        col("p.band") === col("q.band") &&
          col("p.band_hash") === col("q.band_hash"))
      .filter(col("p.doc_id") < col("q.doc_id"))
      .filter(least(col("p.sz"), col("q.sz")) >=
        greatest(col("p.sz"), col("q.sz")) * threshold)
      .filter(first_equal_band(col("p.bh"), col("q.bh"), bands)
        === col("p.band"))
      .filter(estJaccard >= threshold - 0.25)
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"))
  }

  /** Incremental near-dup: verified pairs TOUCHING A NEW BATCH —
    * new↔corpus and new↔new, never corpus↔corpus (the corpus is
    * already deduplicated; re-pairing it is the cost incremental
    * ingestion exists to avoid). Emits exactly the pairs a full
    * [[minhashPairs]] run over `new ∪ corpus` would emit restricted
    * to pairs with a new-side member (DedupSpec pins this pair-for-
    * pair) — candidate generation is per-pair-local, so skipping
    * corpus↔corpus changes cost, not results.
    *
    * Scale shape: the batch side is banded fresh (it's a batch);
    * the corpus side's banded table is the PERSISTED index
    * ([[bandedSig]] — recomputed here from tokens because the
    * sandbox has no index store, one narrow scan). The bucket join
    * is batch-bands × all-bands: each bucket contributes (batch
    * members × bucket size) combos instead of size², and only
    * surviving candidates re-attach token payloads by key.
    */
  def incrementalPairs(newToks: DataFrame, corpusToks: DataFrame,
      numHashes: Int = 64, bands: Int = 8,
      threshold: Double = 0.9): DataFrame = {
    val prefLen = math.min(numHashes, 32)
    val bNew = bandedSig(newToks, numHashes, bands)
    // the batch side rides into two subtrees (probe side + union) —
    // batches are small by definition, so the double evaluation is a
    // second narrow pass over the batch, not the corpus
    val bAll = bandedSig(corpusToks, numHashes, bands)
      .withColumn("is_new", lit(false))
      .unionByName(bNew.withColumn("is_new", lit(true)))
    val a = bNew.select(col("band"), col("band_hash"),
      col("doc_id").as("doc_a"), col("sz").as("sz_a"),
      col("pref").as("pref_a"), col("bh").as("bh_a"))
    val b = bAll.select(col("band"), col("band_hash"),
      col("doc_id").as("doc_b"), col("sz").as("sz_b"),
      col("pref").as("pref_b"), col("bh").as("bh_b"), col("is_new"))
    val estJaccard =
      sig_matches(col("pref_a"), col("pref_b")).cast("double") / prefLen
    val cands = a.join(b, Seq("band", "band_hash"))
      // new↔new pairs appear in both orientations (both sides are in
      // the probe table) — keep one; new↔corpus appears only with the
      // new doc on the probe side
      .filter(!col("is_new") || (col("doc_a") < col("doc_b")))
      .filter(col("doc_a") =!= col("doc_b"))
      .filter(least(col("sz_a"), col("sz_b")) >=
        greatest(col("sz_a"), col("sz_b")) * threshold)
      .filter(first_equal_band(col("bh_a"), col("bh_b"), bands)
        === col("band"))
      .filter(estJaccard >= threshold - 0.25)
      .select("doc_a", "doc_b")
    val toks = newToks.unionByName(corpusToks)
    cands
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")),
        "doc_a")
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")),
        "doc_b")
      .withColumn("inter",
        sorted_intersect_size(col("toks_a"), col("toks_b")).cast("double"))
      .withColumn("jaccard",
        col("inter") /
          (size(col("toks_a")) + size(col("toks_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
  }

  // ---- Standing text signature store + band-layout resolution ----
  // The text analogue of the media phash store (mm.MediaDedup
  // .corpusPhashStore): the corpus side of incremental near-dup as
  // an ON-DISK index rather than an in-session recomputation, and —
  // the r18 carried item — the population a STREAMING detector
  // resolves its band layout from at query start, exactly as the
  // media stream resolves from the standing phash index. Signatures
  // are ~(8 + 8·K/8) B/doc (64 longs at K=64), so a count over the
  // store is parquet-metadata-only.

  /** Default minhash layout `(numHashes, bands)` for a bounded
    * population: 8 bands × 8 rows at K=64 — q31's fixed reporting
    * spelling. At the 0.9 threshold: per-band collision J^8 (0.43 at
    * J=0.9 → any-band recall 0.989; 6.6e-5 at J=0.3).
    */
  val TextNarrowLayout: (Int, Int) = (64, 8)

  /** Selective layout for a crawl-scale population: 12 bands × 12
    * rows (K=144). P(band collision) = J^rows, so the scale lever is
    * MORE rows per band — but rows alone collapse recall (4×16 at
    * K=64 reads 0.56 any-band recall at J=0.9, unusable for a
    * detector), so the hash budget grows with it: J=0.9 → 0.9¹² =
    * 0.28 per band, any-band recall 1−0.72¹² ≈ 0.981; J=0.3 random
    * collisions drop 0.3⁸·8 = 5.2e-4 → 0.3¹²·12 = 6.4e-6 per doc
    * pair (~80×) — at ≥10⁶ standing docs that bucket-population cut
    * is what keeps per-bucket m² comparisons (and streaming state
    * rings) bounded. Cost: 2.25× minhash CPU per doc and a 144-long
    * state signature — paid only above the threshold, where the
    * collision economics dominate both.
    */
  val TextWideLayout: (Int, Int) = (144, 12)

  def textWideThresholdDocs(s: SparkSession): Long =
    s.conf.getOption("spark.graft.text.wideThresholdDocs")
      .map(_.toLong).getOrElse(1000000L)

  /** Build (overwrite) the standing signature store for a corpus:
    * `(doc_id, toks_size, mh)` under `storeDir/minhash`. The token
    * sets never persist — only the K-long signature and the set size
    * (what the estimate prefix and size-ratio prefilters need).
    */
  def buildSignatureStore(s: SparkSession, d: String, storeDir: String,
      numHashes: Int = 64): Unit =
    tokenSets(graft.Tables.documents(s, d))
      .select(col("doc_id"), size(col("toks")).as("toks_size"),
        minhash_sig(col("toks"), numHashes).as("mh"))
      .write.mode("overwrite").parquet(s"$storeDir/minhash")

  def loadSignatureStore(s: SparkSession, storeDir: String): DataFrame =
    s.read.parquet(s"$storeDir/minhash")

  /** Count-aware text minhash layout `(numHashes, bands)`: the
    * manual dial `spark.graft.text.wideMinhashBands` wins when set
    * (either way); otherwise resolve from the candidate-population
    * size. Same observable-resolution contract as the media
    * resolver.
    */
  def textBandLayout(spark: SparkSession,
      corpusDocs: => Long): (Int, Int) =
    spark.conf.getOption("spark.graft.text.wideMinhashBands") match {
      case Some(v) =>
        if (v.toBoolean) TextWideLayout else TextNarrowLayout
      case None =>
        val n = corpusDocs
        val wide = n > textWideThresholdDocs(spark)
        StandingState(spark, ("dedup.textLayoutLogged", wide)) {
          System.err.println(s"[text] minhash band layout auto-" +
            s"resolved ${if (wide) "wide 12x12" else "8x8"} " +
            s"(docs=$n, threshold=${textWideThresholdDocs(spark)})")
        }
        if (wide) TextWideLayout else TextNarrowLayout
    }

  /** Layout for the STREAMING detector: dial wins; else resolve
    * from the standing signature store's doc count (`storeDir`
    * argument, or conf `spark.graft.text.sigStoreDir`); with
    * neither, the narrow 8×8 stands — a cold-start stream's
    * population is its horizon-bounded state, not a corpus.
    * Resolved once at plan time (band keys live in state; a dialed
    * restart re-resolves).
    */
  def streamTextBandLayout(spark: SparkSession,
      storeDir: Option[String] = None): (Int, Int) =
    spark.conf.getOption("spark.graft.text.wideMinhashBands") match {
      case Some(v) =>
        if (v.toBoolean) TextWideLayout else TextNarrowLayout
      case None =>
        storeDir.orElse(
            spark.conf.getOption("spark.graft.text.sigStoreDir")) match {
          case Some(dir) =>
            val p = new org.apache.hadoop.fs.Path(s"$dir/minhash")
            val fs = p.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (fs.exists(p))
              textBandLayout(spark, loadSignatureStore(spark, dir).count())
            else textBandLayout(spark, 0L) // configured but not built
          case None => textBandLayout(spark, 0L)
        }
    }

  /** q75 — the incremental-ingestion spelling of q31: docs with
    * `doc_id ≡ 0 (mod 7)` stand in for the newly-arrived batch, the
    * rest for the already-deduplicated indexed corpus.
    */
  val incrementalNearDup: QueryDef =
    QueryDef.rowsOnly("q75_incremental_neardup") { (s, d) =>
      val sets = tokenSets(Tables.documents(s, d))
      incrementalPairs(
        sets.filter(col("doc_id") % 7 === 0),
        sets.filter(col("doc_id") % 7 =!= 0))
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    }

  /** SimHash near-dup pairs: 64-bit signature (codegen'd
    * [[graft.functions.SimHash64]]), blocked on 4×16-bit bands,
    * verified by Hamming distance ≤ 8. Identical token sets hash to
    * identical signatures regardless of order/multiplicity.
    */
  /** q32's per-document signature table — shared with the gate, so
    * the recall measurement runs against the exact signatures the
    * banded join blocks on.
    */
  private[graft] def docSignatures(s: SparkSession, d: String) =
    graft.Scale.rebalanceNarrowScan(Tables.documents(s, d))
      .select(col("doc_id"), simhash64(tokens(col("text"))).as("sig"))

  val simhash: QueryDef = QueryDef.rowsOnly("q32_dedup_simhash") { (s, d) =>
    val sigs = docSignatures(s, d)
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(array((0 until 4).map(i =>
        shiftrightunsigned(col("sig"), i * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "band_val")))
    // aliases of the one banded plan → ReuseExchange computes the
    // tokenize+simhash pass once (the q124/candidatePairs lesson)
    banded.as("p")
      .join(banded.as("q"),
        col("p.band") === col("q.band") &&
          col("p.band_val") === col("q.band_val"))
      .filter(col("p.doc_id") < col("q.doc_id"))
      // first-match-band dedup (q31's trick, packed-signature form):
      // a pair colliding in m bands survives only in its first shared
      // band, so the `distinct` over the pair blowup — and the extra
      // shuffle it cost — disappears; dedup pipelines inside the join
      // stage itself.
      .filter(first_equal_packed_band(col("p.sig"), col("q.sig"),
        bands = 4, bandBits = 16) === col("p.band"))
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"),
        hamming64(col("p.sig"), col("q.sig")).as("hamming"))
      .filter(col("hamming") <= 8)
      .orderBy("doc_a", "doc_b")
  }

  /** N-gram (word trigram) Jaccard similarity — the exact quadratic
    * path, deliberately bounded to a 1-in-10 document sample; the
    * LSH variants above are the full-corpus plan. Emits the top-50
    * most-similar pairs.
    */
  val ngramJaccard: QueryDef = QueryDef.sqlCutover(
    "q33_ngram_jaccard",
    // Direct string-shingle Jaccard: same semantics as the Spark
    // spelling's hashed shingles (xxhash64 is injective in practice on
    // a ~1k-shingle doc), so the values hash-compare exactly.
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE doc_id % 10 = 0),
      | sh AS (SELECT doc_id,
      |  list_distinct([array_to_string(toks[i:i+2], ' ')
      |    for i in generate_series(1, greatest(len(toks)-2, 1))]) AS sh
      |  FROM t),
      | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) AS inter,
      |  len(a.sh) AS la, len(b.sh) AS lb
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
      | SELECT doc_a, doc_b, inter / (la + lb - inter) AS jaccard
      | FROM p ORDER BY inter / (la + lb - inter) DESC, doc_a, doc_b
      | LIMIT 50""".stripMargin.replaceAll("\n", "")
  ) { (s, d) =>
    // same memo key/count as the branch pick below, so this never
    // re-scans once the query has been constructed
    !Scale.exactOk(s, s"$d#q33_sample",
      Tables.documents(s, d).filter(col("doc_id") % 10 === 0).count())
  } { (s, d) =>
      val docs = Tables.documents(s, d).filter(col("doc_id") % 10 === 0)
      // shingles as sorted 64-bit hashes: the all-pairs verify becomes
      // a linear merge per pair instead of two string hash-sets
      val sh = docs.select(col("doc_id"),
        array_sort(transform(shingles(col("text"), 3), x => xxhash64(x)))
          .as("toks"))
      // NOTE: above the limit the result is deliberately APPROXIMATE
      // (banded LSH has no recall guarantee in the mid-similarity
      // range) — the exact oracle applies to the exact regime the
      // driver gates at; at cutover scale an exact answer would not
      // finish at all.
      val pairs =
        if (Scale.exactOk(s, s"$d#q33_sample", docs.count())) {
          val a = sh.select(col("doc_id").as("doc_a"), col("toks").as("sh_a"))
          val b = sh.select(col("doc_id").as("doc_b"), col("toks").as("sh_b"))
          a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
            .withColumn("inter",
              sorted_intersect_size(col("sh_a"), col("sh_b")).cast("double"))
            .select(col("doc_a"), col("doc_b"),
              (col("inter") /
                (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
                .as("jaccard"))
        } else
          // above the exact limit: banded-LSH candidates over the same
          // shingle sets (threshold 0.5 — pairs far below it can't
          // appear in a top-50-most-similar answer), never all pairs
          minhashPairsFromSets(sh, numHashes = 64, bands = 8,
            threshold = 0.5)
      // jaccard emitted unrounded (small-int ratio — exact both
      // engines; rounding risks decimal half-ties). Both branches now
      // emit the raw quotient, so the value representation no longer
      // depends on which regime ran.
      pairs
        .orderBy(desc("jaccard"), asc("doc_a"), asc("doc_b"))
        .limit(50)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Word n-gram shingle set of a text column — the fused codegen'd
    * [[graft.functions.WordShingles]] pass (one tokenize+window+dedup
    * kernel per row inside WholeStageCodegen). PropertySpec pins
    * equality with [[declarativeShingles]] for arbitrary text.
    */
  def shingles(text: Column, n: Int): Column =
    graft.functions.HashFunctions.word_shingles(text, n)

  /** The declarative spelling `shingles` replaces: three levels of
    * interpreted higher-order lambdas per document. Kept as the
    * independent oracle for the codegen kernel's property test.
    */
  def declarativeShingles(text: Column, n: Int): Column = {
    val toks = split(text, " ")
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => array_join(slice(toks, i, lit(n)), " ")))
  }

  /** Embedding near-dup: top-50 highest-cosine embedding pairs via
    * the codegen'd cosine expression. Exact all-pairs is intentional
    * here (bounded corpus); the banded-LSH scale path is
    * `graft.search.Ann.lshTopK`.
    */
  val embeddingCosine: QueryDef = QueryDef.sqlCutover(
    "q34_embedding_neardup",
    // ORDER BY p.sim (qualified = the RAW value): a bare `sim` binds
    // to the SELECT's rounded alias, which reorders rounded-tied pairs
    // differently from the Spark side's raw-sim sort.
    """WITH p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
      |    CAST(b.embedding AS DOUBLE[])) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
      | SELECT vec_a, vec_b, round(sim, 4) AS sim
      | FROM p ORDER BY p.sim DESC, vec_a, vec_b LIMIT 50""".stripMargin
      .replaceAll("\n", "")
  ) { (s, d) =>
    !Scale.exactOk(s, s"$d#embeddings", Tables.embeddings(s, d).count())
  } { (s, d) =>
      val e = Tables.embeddings(s, d)
      // same approximate-above-limit contract as q33 (see note there)
      val simPairs =
        if (Scale.exactOk(s, s"$d#embeddings", e.count())) {
          val a = e.select(col("vec_id").as("vec_a"),
            col("embedding").as("emb_a"))
          val b = e.select(col("vec_id").as("vec_b"),
            col("embedding").as("emb_b"))
          a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
        } else
          // above the exact limit: hyperplane-banded candidates; ids
          // only ride the band join, vectors re-attach by key
          lshCosinePairsConf(e, "vec_id", "embedding")
            .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
            .join(e.select(col("vec_id").as("vec_a"),
              col("embedding").as("emb_a")), "vec_a")
            .join(e.select(col("vec_id").as("vec_b"),
              col("embedding").as("emb_b")), "vec_b")
      simPairs
        .select(col("vec_a"), col("vec_b"),
          cosine_sim(col("emb_a"), col("emb_b")).as("sim"))
        .orderBy(desc("sim"), asc("vec_a"), asc("vec_b"))
        .limit(50)
        .select(col("vec_a"), col("vec_b"), round(col("sim"), 4).as("sim"))
  }

  /** Banded hyperplane-LSH candidate pairs over a vector column: two
    * vectors are candidates iff they agree on at least one signature
    * band. Only (id, band, band_val) rides the shuffle — payload
    * vectors re-attach by key — so this is the scale path every exact
    * cosine cross join cuts over to. Emits `id_a < id_b` (or both
    * directions with `symmetric = true`, for per-row top-K consumers).
    *
    * nbits/bands is a corpus-dependent recall-vs-candidates dial (see
    * the Ann Scaladoc): on clustered data buckets hold mostly true
    * neighbors; on weakly clustered data wide (few-bit) bands degrade
    * toward large candidate fractions — raise bits-per-band
    * (`spark.graft.lsh.nbits` / `spark.graft.lsh.bands` for the conf
    * entry points) when neighbors sit well above the bulk.
    */
  def lshCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      nbits: Int = 24, bands: Int = 4, symmetric: Boolean = false)
      : DataFrame = {
    val bandBits = nbits / bands
    val mask = (1L << bandBits) - 1
    val banded = df.select(col(idCol).as("id"),
        hyperplane_sig(col(vecCol), nbits).as("sig"))
      .select(col("id"),
        posexplode(array((0 until bands).map(i =>
          shiftrightunsigned(col("sig"), i * bandBits)
            .bitwiseAND(lit(mask))): _*))
          .as(Seq("band", "band_val")))
    val keep =
      if (symmetric) col("p.id") =!= col("q.id")
      else col("p.id") < col("q.id")
    // aliases of the one banded plan → ReuseExchange computes the
    // hyperplane signatures once, not once per join side (q124)
    banded.as("p")
      .join(banded.as("q"), col("p.band") === col("q.band") &&
        col("p.band_val") === col("q.band_val"))
      .filter(keep)
      .select(col("p.id").as("id_a"), col("q.id").as("id_b"))
      .distinct()
  }

  /** [[lshCosinePairs]] with banding taken from the session conf
    * (`spark.graft.lsh.nbits`, `spark.graft.lsh.bands`) — the entry
    * point the cutover paths use, so the dial is turnable per corpus
    * without a code change.
    */
  def lshCosinePairsConf(df: DataFrame, idCol: String, vecCol: String,
      symmetric: Boolean = false): DataFrame = {
    val conf = df.sparkSession.conf
    lshCosinePairs(df, idCol, vecCol,
      nbits = conf.getOption("spark.graft.lsh.nbits")
        .map(_.toInt).getOrElse(24),
      bands = conf.getOption("spark.graft.lsh.bands")
        .map(_.toInt).getOrElse(4),
      symmetric = symmetric)
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: each node repeatedly adopts the smallest
    * label in its neighborhood. Each round is one shuffle on the edge
    * key, followed by a pointer jump (label ← label∘label) that
    * composes the label map with itself — so label reach grows
    * ~2^rounds, and maxIter=20 covers diameters around 10⁶, not 20.
    * PropertySpec pins this with a chain-graph (path) property far
    * longer than the iteration cap running through the distributed
    * solve. If the cap is ever hit anyway (adversarial diameter
    * beyond 2^maxIter), [[solve]] finishes on the
    * large-star/small-star alternation ([[starSolve]], Kiveris et
    * al. 2014, "Connected components in MapReduce and beyond"),
    * whose round count is O(log² n) independent of diameter — so
    * convergence is unconditional, not cap-bounded.
    */
  /** One min-label propagation + pointer-jump round over `sym`
    * (symmetric, cached). Returns the updated label table and whether
    * anything changed.
    *
    * `localCheckpoint` (not `cache`) each round: caching truncates
    * recomputation but Catalyst still re-analyzes the full lineage,
    * which doubles per iteration (the label table is referenced twice
    * per step) — measured 1.4 s → 89 s over six iterations before the
    * plan was truncated.
    */
  private def propagateRound(sym: DataFrame, labels: DataFrame)
      : (DataFrame, Long) = {
    val nbrMin = sym
      .join(labels.select(col("id").as("dst"), col("label")), "dst")
      .groupBy(col("src").as("id")).agg(min("label").as("nbr_label"))
    val stepped = labels
      .join(nbrMin, Seq("id"), "left")
      .select(col("id"), col("label").as("old_label"),
        least(col("label"), coalesce(col("nbr_label"), col("label")))
          .as("label"))
      .localCheckpoint() // eager: the self-join below must not recompute nbrMin
    // Pointer jump — label(x) <- label(label(x)) — on the label table
    // only (no edge pass), collapsing label chains in O(log n) rounds
    // where plain min-propagation needs O(diameter).
    val jumped = stepped.alias("s")
      .join(stepped.select(col("id").as("jid"), col("label").as("jlabel")),
        col("s.label") === col("jid"), "left")
      .select(col("s.id").as("id"), col("s.old_label").as("old_label"),
        least(col("s.label"), coalesce(col("jlabel"), col("s.label")))
          .as("label"))
      .localCheckpoint()
    val changed = jumped.filter(col("label") =!= col("old_label")).count()
    (jumped.select("id", "label"), changed)
  }

  private def initLabels(sym: DataFrame): DataFrame =
    sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).localCheckpoint()

  private def solve(sym: DataFrame, maxIter: Int): DataFrame = {
    var labels = initLabels(sym)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val (next, c) = propagateRound(sym, labels)
      labels = next; changed = c; i += 1
    }
    if (changed == 0) labels
    else {
      // Iteration cap hit: the component diameter beat 2^maxIter
      // pointer-jump reach. Contract through the partial labels and
      // finish with the star alternation, whose convergence does not
      // depend on diameter. Composition is sound because partial
      // labels are already within-component (propagation only ever
      // adopts a connected neighbor's label).
      val contracted = sym
        .join(labels.select(col("id").as("src"), col("label").as("ls")),
          "src")
        .join(labels.select(col("id").as("dst"), col("label").as("ld")),
          "dst")
        .select(col("ls").as("src"), col("ld").as("dst"))
        .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
      val starred = starSolve(contracted)
      labels.join(starred.select(col("id").as("label"),
          col("label").as("slabel")), Seq("label"), "left")
        .select(col("id"),
          coalesce(col("slabel"), col("label")).as("label"))
    }
  }

  /** One large-star round (Kiveris et al. 2014): every node u
    * connects each strictly-larger neighbor to the minimum of u's
    * closed neighborhood. Input must be symmetric.
    */
  private def largeStarRound(sym: DataFrame): DataFrame = {
    val m = sym.groupBy("src").agg(min("dst").as("mn"))
      .select(col("src"), least(col("mn"), col("src")).as("m"))
    sym.join(m, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** One small-star round: orient every edge larger→smaller, then
    * each node connects all of its smaller neighbors (and itself) to
    * their minimum.
    */
  private def smallStarRound(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val m = oriented.groupBy("src").agg(min("dst").as("m"))
    oriented.join(m, "src")
      .select(col("dst").as("src"), col("m").as("dst"))
      .union(m.select(col("src"), col("m").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  /** Connected components by alternating large-star/small-star
    * (Kiveris et al. 2014) until the edge set reaches a fixed point —
    * O(log² n) rounds whatever the graph diameter, each round two
    * shuffles on node id. The propagation+jump loop beats it on
    * round count for everything the dedup paths produce (hence
    * fallback, not default); this is the unconditional-convergence
    * escape for adversarial diameters. Returns `(id, label)` with
    * label = component minimum.
    */
  private[graft] def starSolve(edges: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    var cur = edges.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    // fixed-point signature: (edge count, order-free hash sum). The
    // alternation strictly shrinks a potential until the star state,
    // where both rounds are identities — equal signatures on
    // consecutive rounds mean the fixed point, not a cycle.
    def sig(df: DataFrame): (Long, BigDecimal) = {
      // hash sum through DECIMAL: exact and overflow-free (ANSI mode
      // hard-fails a Long sum of 2^63-range hashes)
      val r = df.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(28,0)"))).head()
      (r.getLong(0),
        if (r.isNullAt(1)) BigDecimal(0) else BigDecimal(r.getDecimal(1)))
    }
    var prev = sig(cur)
    var done = prev._1 == 0L
    var i = 0
    while (!done && i < maxRounds) {
      val sym = cur.union(
        cur.select(col("dst").as("src"), col("src").as("dst")))
      cur = smallStarRound(largeStarRound(sym)).localCheckpoint()
      val now = sig(cur)
      done = now == prev
      prev = now
      i += 1
    }
    // star state: every edge is (member, component-min); min() guards
    // the (never-observed) not-quite-converged cap exit with a still-
    // consistent labeling
    val members = cur.groupBy(col("src").as("id"))
      .agg(min("dst").as("label"))
    val roots = cur.select(col("dst").as("id")).distinct()
      .join(members.select("id"), Seq("id"), "left_anti")
      .withColumn("label", col("id"))
    members.unionByName(roots)
  }

  /** Max contracted-graph edges solved driver-side. After one
    * propagation round + contraction, a near-dup graph (clique-heavy)
    * collapses to orders of magnitude fewer edges; below this bound a
    * driver union-find replaces ~O(log n) more distributed rounds
    * (each a fixed-overhead job), and the label map broadcasts back.
    * Above it the distributed loop continues unchanged.
    */
  private def ccLocalSolveLimit(s: SparkSession): Long =
    s.conf.getOption("spark.graft.cc.localSolveLimit")
      .map(_.toLong).getOrElse(100000L)

  /** Driver-side union-find with path compression over a contracted
    * edge list — labels become the component-minimum id.
    */
  private[graft] def unionFind(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) {
        val next = parent(c); parent(c) = r; c = next
      }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        // min-id root keeps "label = smallest member" semantics
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val keys = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    keys.iterator.map(k => k -> find(k)).toMap
  }

  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    // Cache the raw edges BEFORE symmetrizing: `union` evaluates its
    // two branches independently, so an uncached (possibly expensive)
    // upstream — e.g. the whole LSH pipeline — would run twice.
    // Ids are normalized to long here, so both solve paths read and
    // return longs whatever the input's integral id type.
    val e = edges.toDF("src", "dst")
      .select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .cache()
    // Whole-graph driver union-find below the local-solve bound (r20):
    // the distributed path costs ~6 fixed-overhead jobs (symmetrize +
    // distinct, init labels, propagate + jump + changed-count,
    // contraction + count) before its own local solve — on a small
    // pair graph (q155 rebuilds its 3-modality edge set every run;
    // q49/q110 cold) those stage barriers ARE the cost. The count
    // gate reads the cache that the first propagation round would
    // have materialized anyway, so at scale the only added work is
    // one cached-scan count; labels are identical by construction
    // ([[unionFind]] keeps the min-id root, and its key set is every
    // edge endpoint — the same coverage initLabels derives from sym).
    val nEdges = e.count()
    if (nEdges <= ccLocalSolveLimit(edges.sparkSession)) {
      val local = unionFind(e.collect()
        .map(r => (r.getLong(0), r.getLong(1))))
      val spark = edges.sparkSession
      import spark.implicits._
      val out = local.toSeq.toDF("id", "label")
      e.unpersist()
      return out
    }
    val sym = e
      .union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().cache()
    // Level 1: ONE propagation round over the full edge set, then
    // CONTRACT — remaining work happens on the cluster graph
    // (label(src), label(dst)), which for near-dup graphs (clique-
    // heavy) is orders of magnitude smaller than the edge set. Every
    // further iteration then joins the contracted edges, not the full
    // ones; the full set is touched exactly twice (round 1 +
    // contraction).
    val (partial, changed1) = propagateRound(sym, initLabels(sym))
    val result =
      if (changed1 == 0) partial
      else {
        val l1 = partial
        val contracted = sym
          .join(l1.select(col("id").as("src"), col("label").as("csrc")), "src")
          .join(l1.select(col("id").as("dst"), col("label").as("cdst")), "dst")
          .select(col("csrc").as("src"), col("cdst").as("dst"))
          .filter(col("src") =!= col("dst"))
          .distinct().localCheckpoint()
        val nContracted = contracted.count()
        if (nContracted == 0) partial
        else if (nContracted <= ccLocalSolveLimit(edges.sparkSession)) {
          // tiny cluster graph: finish on the driver instead of paying
          // fixed job overhead per remaining distributed round
          val local = unionFind(contracted.collect()
            .map(r => (r.getLong(0), r.getLong(1))))
          val spark = edges.sparkSession
          import spark.implicits._
          val mapping = local.toSeq.toDF("label", "clabel")
          l1.join(broadcast(mapping), Seq("label"), "left")
            .select(col("id"),
              coalesce(col("clabel"), col("label")).as("label"))
        } else {
          val cLabels = solve(
            contracted.union(contracted.select(col("dst").as("src"),
              col("src").as("dst"))).distinct().localCheckpoint(),
            maxIter)
          l1.join(cLabels.select(col("id").as("label"),
              col("label").as("clabel")), Seq("label"), "left")
            .select(col("id"),
              coalesce(col("clabel"), col("label")).as("label"))
        }
      }
    e.unpersist()
    sym.unpersist()
    result
  }

  // Label-once per (session, dir): q49 reports the labels, q110's
  // split and keepBest both consume them — a curation run computes
  // the clustering exactly once, so the library does too.
  /** Cached near-dup cluster labeling `(doc_id, cluster_id,
    * is_keeper)` for a corpus — the compute-once core of q49/q110.
    */
  def clusterLabels(s: SparkSession, d: String): DataFrame =
    StandingState(s, ("dedup.clusterLabels", d)) {
      val docs = Tables.documents(s, d)
      // sparse star+rep edges, NOT the expanded pair listing:
      // identical connectivity (hence identical labels — every clique
      // member reaches its rep directly), but a clique of m exact
      // dups contributes m−1 edges instead of m²/2 pairs into every
      // propagation round
      val comp = connectedComponents(nearDupEdges(s, d))
      val out = docs.select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"),
          col("label").as("cluster_id")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
        .cache()
      out.count()
      out
    }

  // The exact-pair sibling of [[clusterLabels]]: CC labels over the
  // 1-in-4-sample EXACT pair set (q121's cached intermediate) — the
  // clustering q110's leakage-safe split consumes. Same label-once
  // discipline; a split audit labels its corpus once per snapshot.
  /** Cached `(doc_id, label)` CC labeling of
    * [[SetSimJoin.cachedQuarterPairs]], persisted per (session, dir).
    */
  def exactClusterLabels(s: SparkSession, d: String): DataFrame =
    StandingState(s, ("dedup.exactClusterLabels", d)) {
      val pairs = SetSimJoin.cachedQuarterPairs(s, d)
        .select("doc_a", "doc_b")
      val out = connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id").cache()
      out.count()
      out
    }

  // Label-once for the EXACT-edge full-corpus clustering (the q49
  // exact regime) — same discipline as clusterLabels.
  /** Full-corpus cluster labeling over the EXACT Jaccard ≥ 0.9 pair
    * set ([[SetSimJoin.allPairs]] — prefix-filtered, zero recall
    * loss): the recall-1.0 spelling of [[clusterLabels]]' LSH edges,
    * affordable while the corpus fits the exact-pair limit.
    */
  def exactFullClusterLabels(s: SparkSession, d: String): DataFrame =
    StandingState(s, ("dedup.exactFullClusterLabels", d)) {
      val docs = Tables.documents(s, d)
      val comp = connectedComponents(
        SetSimJoin.allPairs(docs, "doc_id", "text", 0.9)
          .select("doc_a", "doc_b"))
      val out = docs.select(col("doc_id"))
        .join(comp.select(col("id").as("doc_id"),
          col("label").as("cluster_id")), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
        .cache()
      out.count()
      out
    }

  /** Corpus bound for q49's exact regime. Deliberately TIGHTER than
    * [[graft.Scale.exactPairLimit]]: the engine-side exact pass is
    * prefix-filtered (cheap well past this), but the regime contract
    * includes an ANSI oracle, and the quadratic DuckDB check crosses
    * from seconds (500 docs, 5 s) to tens of minutes (5k docs) — an
    * oracle too slow to run is no oracle. Override with
    * `spark.graft.exactClusterDocLimit`.
    */
  def exactClusterDocLimit(s: SparkSession): Long =
    s.conf.getOption("spark.graft.exactClusterDocLimit")
      .map(_.toLong).getOrElse(2000L)

  private def q49ExactOk(s: SparkSession, d: String): Boolean =
    graft.Scale.within(s, s"$d#q49_docs", exactClusterDocLimit(s))(
      Tables.documents(s, d).count())

  /** Keeper-set dedup: near-dup pairs → connected components → one
    * keeper (min doc_id) per cluster; singleton docs keep themselves.
    * This is the operator a curation pipeline actually applies: filter
    * `is_keeper` and the corpus is deduplicated.
    *
    * REGIME-ROUTED since round 11: while the corpus fits
    * [[graft.Scale.exactPairLimit]] the edges are the EXACT J ≥ 0.9
    * pair set (prefix-filtered, recall 1.0) and the WHOLE pipeline —
    * including the distributed connected-components labeling —
    * hash-checks against a DuckDB `WITH RECURSIVE` min-label
    * propagation (the q110 oracle pattern over the full corpus at
    * 0.9); above the limit the LSH-banded edges serve (their recall
    * is gated at ≥ 0.95 by q31) with the oracle withheld. The
    * structural gate (coverage, one min-id keeper per cluster) keeps
    * measuring in both regimes.
    */
  val clusters: QueryDef = QueryDef.sqlCutover(
    "q49_dedup_clusters",
    """WITH RECURSIVE t AS (SELECT doc_id,
      |  list_distinct(string_split(text, ' ')) AS toks FROM documents),
      | p AS (SELECT a.doc_id AS a, b.doc_id AS b
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |   AND 10 * len(b.toks) >= 9 * len(a.toks)
      |   AND 10 * len(a.toks) >= 9 * len(b.toks)
      |   AND CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |    / (len(a.toks) + len(b.toks)
      |       - len(list_intersect(a.toks, b.toks))) >= 0.9),
      | sym AS (SELECT a, b FROM p UNION SELECT b AS a, a AS b FROM p),
      | r(node, lab) AS (
      |  SELECT doc_id, doc_id FROM t
      |  UNION
      |  SELECT s.b, r.lab FROM r JOIN sym s ON r.node = s.a),
      | lab AS (SELECT node AS doc_id, min(lab) AS cluster_id
      |  FROM r GROUP BY node)
      | SELECT doc_id, cluster_id, doc_id = cluster_id AS is_keeper
      | FROM lab ORDER BY doc_id""".stripMargin.replaceAll("\n", "")
  ) { (s, d) => !q49ExactOk(s, d) } { (s, d) =>
    if (q49ExactOk(s, d)) exactFullClusterLabels(s, d).orderBy("doc_id")
    else clusterLabels(s, d).orderBy("doc_id")
  }

  /** Quality-aware keeper selection over cluster labels: re-pick each
    * cluster's keeper as the argmax of `scoreCol` (ties → min
    * doc_id) instead of the structural min-id default. This is how a
    * curation pipeline keeps the BEST near-dup variant, not an
    * arbitrary one. Input is any `(doc_id, cluster_id, ...)` labeling
    * (e.g. q49's) joined with a per-doc score table; one shuffle on
    * cluster_id, and WindowGroupLimit keeps the rank bounded —
    * clusters are numerous and small, so the window partitioning
    * scales out.
    */
  def keepBest(labels: DataFrame, scores: DataFrame,
      scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(desc(scoreCol), asc("doc_id"))
    labels.drop("is_keeper")
      .join(scores.select(col("doc_id"), col(scoreCol)), "doc_id")
      .withColumn("is_keeper", row_number().over(w) === 1)
  }

  /** Benchmark decontamination — the training-data hygiene pass that
    * flags corpus documents sharing any word-trigram with a held-out
    * benchmark set (here: doc_id % 97 == 0 stands in for the eval
    * suite). Eval suites are tiny relative to a 100 TB corpus, so the
    * benchmark shingle set BROADCASTS and the whole check is one
    * narrow explode + broadcast semi-ish join + per-doc count — no
    * shuffle of the corpus beyond the final small aggregate.
    */
  val decontaminate: QueryDef = QueryDef.sql(
    "q60_decontaminate",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents),
      | sh AS (SELECT doc_id, unnest(list_distinct(
      |  [array_to_string(toks[i:i+2], ' ')
      |   for i in generate_series(1, greatest(len(toks)-2, 1))])) AS s
      |  FROM t),
      | bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
      | hits AS (SELECT sh.doc_id, count(*) AS n_shared
      |  FROM sh JOIN bench ON sh.s = bench.s WHERE sh.doc_id % 97 <> 0
      |  GROUP BY sh.doc_id)
      | SELECT doc_id, CAST(n_shared AS BIGINT) AS n_shared
      | FROM hits ORDER BY doc_id""".stripMargin.replaceAll("\n", "")
  ) { (s, d) =>
    benchShingleHits(Tables.documents(s, d), 97).orderBy("doc_id")
  }

  /** Per-doc count of word-trigram shingles shared with the held-out
    * benchmark set (`doc_id % benchMod == 0`); benchmark docs
    * themselves are excluded from the output. The single shared core
    * of q60 (reporting) and `pipeline.Curation.decontaminate`
    * (dropping) — the contamination definition lives here once.
    *
    * Two tiers, exact result: the q68 broadcast-bloom probe runs
    * FIRST as a prefilter — a bloom has no false negatives, so every
    * contaminated doc survives it — and the exact shingle
    * explode+join+count runs only on the surviving candidates
    * (contaminated docs plus a ~1e-7-per-key trickle of false
    * positives, which the exact join then zero-counts away). The
    * corpus-wide cost drops from "explode every doc's shingles
    * through a join" to "one scalar probe per doc" — the same
    * full-scan-only shape as q68 — while the emitted counts stay
    * bit-identical to the naive single-tier oracle.
    */
  /** Bloom sizing for a benchmark side: ≥32 bits per (upper-bound)
    * distinct shingle, floor 2^23, next power of two. At m/n = 32
    * with k = 7 the per-key FP is ~1e-5, so a ~10³-shingle doc stays
    * under ~1% doc-level FP — the prefilter keeps filtering as the
    * benchmark grows. A FIXED size silently degrades instead: the
    * 30× scale sweep measured q60 at 10× the cost for 3× the data
    * when 2^23 bits saturated (~1.1M bench shingles → per-key FP
    * ~3e-2 → nearly every doc "survived" into the exact tier).
    * One cheap aggregate over the (tiny) benchmark side pays for it;
    * `spark.graft.bloom.bits` still overrides.
    */
  private def sizedBloomBits(allDocs: DataFrame, benchMod: Int): Int = {
    val spark = allDocs.sparkSession
    spark.conf.getOption("spark.graft.bloom.bits").map(_.toInt)
      .getOrElse {
        val r = allDocs.filter(col("doc_id") % benchMod === 0)
          .agg(sum(greatest(size(split(col("text"), " ")) - 2, lit(1))
            .cast("long"))).head()
        val budget = if (r.isNullAt(0)) 0L else r.getLong(0)
        var bits = 1 << 23
        while (bits.toLong < 32L * budget && bits < (1 << 29)) bits <<= 1
        bits
      }
  }

  def benchShingleHits(allDocs: DataFrame, benchMod: Int): DataFrame = {
    import graft.functions.BloomFilters._
    val numBits = sizedBloomBits(allDocs, benchMod)
    val k = 7
    // conditional fan-out (r20, VERDICT r19 item 3): the shingle-hash
    // probe is scan-side CPU, serialized by a one-row-group corpus;
    // identity below the size gate (bench plans unchanged)
    val src = graft.Scale.rebalanceNarrowWideScan(
      allDocs.select(col("doc_id"), col("text")))
    // hashed shingles built INLINE in each operator (not projected to
    // an attribute): an attribute would be referenced by the probe
    // filter, the inferred size()>0 under the later Generate, and the
    // explode — and pushdown substitutes its defining expression into
    // each, re-evaluating the shingle tree 2-3× per corpus row.
    // Inline, the probe stage evaluates it exactly once — and as the
    // fused [[graft.functions.ShingleHashes]] pass, not three levels
    // of interpreted lambdas.
    def hashedSh = shingle_hashes(col("text"), 3)
    val bloom = src.filter(col("doc_id") % benchMod === 0)
      .agg(bloom_build(hashedSh, numBits, k).as("bf"))
    val candidates = src.filter(col("doc_id") % benchMod =!= 0)
      .filter(bloom_contains_any(bloom.scalar(), hashedSh, k))
    val bench = src.filter(col("doc_id") % benchMod === 0)
      .select(explode(shingles(col("text"), 3)).as("s")).distinct()
    candidates.select(col("doc_id"), explode(shingles(col("text"), 3)).as("s"))
      .join(broadcast(bench), "s")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
  }

  /** Contamination ATTRIBUTION: for every contaminated corpus doc,
    * which benchmark doc(s) it shares trigrams with and how many —
    * the audit trail behind q60's drop decision ("why was this doc
    * removed, against what"). Same two-tier shape as
    * [[benchShingleHits]]: the sized-bloom prefilter keeps the corpus
    * as a full-scan probe, and only surviving candidates explode
    * their shingles into the broadcast join — except the bench side
    * here keeps its doc id, so the exact tier groups by (doc, bench)
    * pair instead of doc alone. The pair cardinality is bounded by
    * contaminated-docs × benchmark-size, both tiny next to the
    * corpus.
    */
  def benchAttribution(allDocs: DataFrame, benchMod: Int): DataFrame = {
    import graft.functions.BloomFilters._
    val numBits = sizedBloomBits(allDocs, benchMod)
    val k = 7
    // conditional fan-out — see [[benchShingleHits]] (r20)
    val src = graft.Scale.rebalanceNarrowWideScan(
      allDocs.select(col("doc_id"), col("text")))
    def hashedSh = shingle_hashes(col("text"), 3)
    val bloom = src.filter(col("doc_id") % benchMod === 0)
      .agg(bloom_build(hashedSh, numBits, k).as("bf"))
    val candidates = src.filter(col("doc_id") % benchMod =!= 0)
      .filter(bloom_contains_any(bloom.scalar(), hashedSh, k))
    val bench = src.filter(col("doc_id") % benchMod === 0)
      .select(col("doc_id").as("bench_doc"),
        explode(shingles(col("text"), 3)).as("s"))
    candidates
      .select(col("doc_id"), explode(shingles(col("text"), 3)).as("s"))
      .join(broadcast(bench), "s")
      .groupBy("doc_id", "bench_doc").agg(count(lit(1)).as("n_shared"))
  }

  /** q123 — contamination attribution pairs with a primary-match
    * rank per doc (1 = the benchmark doc sharing the most trigrams).
    */
  val contaminationAttribution: QueryDef = QueryDef.sql(
    "q123_contamination_attrib",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents),
      | sh AS (SELECT doc_id, unnest(list_distinct(
      |  [array_to_string(toks[i:i+2], ' ')
      |   for i in generate_series(1, greatest(len(toks)-2, 1))])) AS s
      |  FROM t),
      | b AS (SELECT doc_id AS bench_doc, s FROM sh
      |  WHERE doc_id % 97 = 0),
      | hits AS (SELECT sh.doc_id, b.bench_doc, count(*) AS n_shared
      |  FROM sh JOIN b ON sh.s = b.s WHERE sh.doc_id % 97 <> 0
      |  GROUP BY sh.doc_id, b.bench_doc)
      | SELECT doc_id, bench_doc, CAST(n_shared AS BIGINT) AS n_shared,
      |  CAST(row_number() OVER (PARTITION BY doc_id
      |   ORDER BY n_shared DESC, bench_doc) AS INT) AS rank
      | FROM hits ORDER BY doc_id, rank""".stripMargin
      .replaceAll("\n", "")
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    benchAttribution(Tables.documents(s, d), 97)
      .withColumn("rank", row_number().over(Window.partitionBy("doc_id")
        .orderBy(desc("n_shared"), asc("bench_doc"))))
      .orderBy("doc_id", "rank")
  }

  /** The broadcast-bloom tier of decontamination: fold the held-out
    * benchmark's shingle hashes into ONE fixed-size bloom filter
    * ([[graft.functions.BloomBuild]]) and probe each corpus doc's
    * shingle array against the broadcast bits in a codegen'd scalar
    * expression. Versus q60's shingle-join: the corpus side never
    * explodes, joins, or shuffles — a full-scan filter whatever the
    * corpus size, at the price of a false-POSITIVE rate (safe
    * direction: extra docs dropped, never a benchmark line leaked).
    * Default 2^23 bits ≈ 1 MB holds ~10^6 shingles at ~1e-7 per-key
    * FP (size by m ≈ -n·ln p/ln²2, conf `spark.graft.bloom.bits`);
    * DedupSpec gates zero false negatives vs q60 and the measured
    * doc-level FP rate.
    */
  /** The RAW bloom tier alone — probe survivors before any exact
    * confirmation, i.e. contaminated docs plus the bloom's
    * false-positive trickle. Not a registered query: q68 ships the
    * exact two-tier result; this surface exists so DedupSpec and the
    * q68 gate keep measuring the tier's own guarantees (zero false
    * negatives, bounded doc-level FP) rather than trivially comparing
    * the exact pipeline with itself.
    */
  def bloomProbeSurvivors(allDocs: DataFrame, benchMod: Int): DataFrame = {
    import graft.functions.BloomFilters._
    val numBits = sizedBloomBits(allDocs, benchMod)
    val k = 7
    val docs = allDocs.select(col("doc_id"),
      shingle_hashes(col("text"), 3).as("sh"))
    val bloom = docs.filter(col("doc_id") % benchMod === 0)
      .agg(bloom_build(col("sh"), numBits, k).as("bf"))
    // the filter rides as a SCALAR SUBQUERY, not a crossJoin +
    // filter: predicate pushdown folds the latter into a
    // BroadcastNestedLoopJoin condition, putting a join operator on
    // the corpus path for what is semantically a per-row predicate.
    // As a subquery the bloom executes once and the probe is a
    // plain Filter pipelined with the scan (PlanSpec pins the
    // shape; note the shingle lambdas are higher-order functions —
    // CodegenFallback — so this stage evaluates interpreted either
    // way)
    docs.filter(col("doc_id") % benchMod =!= 0)
      .filter(bloom_contains_any(bloom.scalar(), col("sh"), k))
      .select("doc_id")
  }

  /** q68 — bloom-prefiltered decontamination, EXACT result: the
    * broadcast-bloom probe screens the corpus as a full-scan filter
    * (no explode, no join, no shuffle for the overwhelmingly-clean
    * majority), and only its survivors — contaminated docs plus a
    * ~1e-5-per-key false-positive trickle — pay the exact shingle
    * explode + broadcast join, which zero-counts the trickle away.
    * A bloom has no false negatives, so the two-tier composition is
    * bit-identical to the naive single-tier spelling — which is
    * exactly why the oracle is q60's SQL projected to the decision
    * surface (r9 verdict #4: 171 = 171 graduated this row from
    * rows-only to hash-checked). The tier's own properties (0 FN,
    * bounded FP) stay measured on [[bloomProbeSurvivors]].
    */
  val decontaminateBloom: QueryDef = QueryDef.sql(
    "q68_decontaminate_bloom",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents),
      | sh AS (SELECT doc_id, unnest(list_distinct(
      |  [array_to_string(toks[i:i+2], ' ')
      |   for i in generate_series(1, greatest(len(toks)-2, 1))])) AS s
      |  FROM t),
      | bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
      | hits AS (SELECT sh.doc_id, count(*) AS n_shared
      |  FROM sh JOIN bench ON sh.s = bench.s WHERE sh.doc_id % 97 <> 0
      |  GROUP BY sh.doc_id)
      | SELECT doc_id FROM hits ORDER BY doc_id""".stripMargin
      .replaceAll("\n", "")
  ) { (s, d) =>
    benchShingleHits(Tables.documents(s, d), 97)
      .select("doc_id").orderBy("doc_id")
  }

  /** Fuzzy decontamination: flag corpus documents NEAR-duplicate
    * (token-set Jaccard ≥ 0.8) to any held-out benchmark document —
    * the recall-side complement of q60's exact shingle overlap, which
    * a light paraphrase or truncation evades.
    *
    * Scale shape: the benchmark side (eval sets — thousands of docs
    * against a 100 TB corpus) is banded and BROADCAST, so the corpus
    * contributes one narrow signature pass and a map-side hash join on
    * (band, band_hash) — no corpus shuffle at all before the
    * candidate filter. Candidates dedup band-collisions with the
    * first-equal-band trick (no pair `distinct` shuffle), then only
    * surviving ids re-attach token sets for the exact merge-intersect
    * verify; benchmark token sets broadcast likewise.
    *
    * REGIME-ROUTED since round 11 (the q68/q45 graduation pattern):
    * while corpus×bench stays within [[q91PairLimit]] the registered
    * result is the EXACT max-Jaccard scan (broadcast bench, one
    * corpus pass, merge-intersect per pair — affordable precisely
    * because the bench side is small) and hash-checks against a
    * DuckDB list-intersect oracle (raw IEEE quotients of exact
    * integer counts — the q33 parity discipline, so no rounding
    * half-ties); above the limit the LSH path serves with the oracle
    * withheld, and its soundness/recall gate keeps measuring the RAW
    * banded tier ([[fuzzyDecontaminateLsh]]) either way.
    */
  def q91PairLimit(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption("spark.graft.fuzzyDecontamPairLimit")
      .map(_.toLong).getOrElse(1000000L)

  private def q91Exact(s: org.apache.spark.sql.SparkSession,
      d: String): Boolean =
    graft.Scale.within(s, s"$d#q91_pairs", q91PairLimit(s))({
      val n = Tables.documents(s, d)
        .select(sum(when(col("doc_id") % 97 === 0, 1L).otherwise(0L))
            .as("b"),
          sum(when(col("doc_id") % 97 =!= 0, 1L).otherwise(0L)).as("c"))
        .head()
      n.getLong(0) * n.getLong(1)
    })

  /** The RAW banded-LSH fuzzy-decontamination tier the q91 gate
    * measures (sound, recall ≥ bar for J ≥ 0.9), independent of
    * which regime the registered query serves.
    */
  def fuzzyDecontaminateLsh(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
      val numHashes = 64; val bands = 8; val threshold = 0.8
      val prefLen = math.min(numHashes, 32)
      val sets = tokenSets(Tables.documents(s, d))
      val bench = sets.filter(col("doc_id") % 97 === 0)
      val corpus = sets.filter(col("doc_id") % 97 =!= 0)
      val bb = bandedSig(bench, numHashes, bands)
        .select(col("band"), col("band_hash"),
          col("doc_id").as("bench_id"), col("sz").as("sz_b"),
          col("pref").as("pref_b"), col("bh").as("bh_b"))
      val cb = bandedSig(corpus, numHashes, bands)
        .select(col("band"), col("band_hash"), col("doc_id"),
          col("sz").as("sz_a"), col("pref").as("pref_a"),
          col("bh").as("bh_a"))
      val estJaccard =
        sig_matches(col("pref_a"), col("pref_b")).cast("double") / prefLen
      val cand = cb.join(broadcast(bb), Seq("band", "band_hash"))
        .filter(least(col("sz_a"), col("sz_b")) >=
          greatest(col("sz_a"), col("sz_b")) * threshold)
        .filter(first_equal_band(col("bh_a"), col("bh_b"), bands)
          === col("band"))
        .filter(estJaccard >= threshold - 0.25)
        .select("doc_id", "bench_id")
      cand
        .join(corpus.select(col("doc_id"), col("toks").as("toks_a")),
          "doc_id")
        .join(broadcast(bench.select(col("doc_id").as("bench_id"),
          col("toks").as("toks_b"))), "bench_id")
        .withColumn("inter",
          sorted_intersect_size(col("toks_a"), col("toks_b"))
            .cast("double"))
        .withColumn("jaccard",
          col("inter") /
            (size(col("toks_a")) + size(col("toks_b")) - col("inter")))
        .filter(col("jaccard") >= threshold)
        .groupBy("doc_id")
        .agg(round(max(col("jaccard")), 4).as("max_jaccard"),
          count(lit(1)).as("n_bench_matches"))
  }

  val fuzzyDecontaminate: QueryDef = QueryDef.sqlCutover(
    "q91_fuzzy_decontaminate",
    """WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' '))
      |   AS toks FROM documents),
      | b AS (SELECT doc_id AS bench_id, toks AS toks_b FROM t
      |   WHERE doc_id % 97 = 0),
      | c AS (SELECT doc_id, toks AS toks_a FROM t
      |   WHERE doc_id % 97 <> 0),
      | p AS (SELECT c.doc_id,
      |   CAST(len(list_intersect(toks_a, toks_b)) AS DOUBLE) AS inter,
      |   len(toks_a) AS la, len(toks_b) AS lb FROM c CROSS JOIN b),
      | j AS (SELECT doc_id, inter / (la + lb - inter) AS jaccard
      |   FROM p WHERE inter / (la + lb - inter) >= 0.8)
      | SELECT doc_id, max(jaccard) AS max_jaccard,
      |  count(*) AS n_bench_matches, 'exact' AS regime
      | FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
      .replaceAll("\n", "")
  ) { (s, d) => !q91Exact(s, d) } { (s, d) =>
    val threshold = 0.8
    if (q91Exact(s, d)) {
      import graft.functions.HashFunctions.sorted_intersect_size
      val sets = tokenSets(Tables.documents(s, d))
      val bench = sets.filter(col("doc_id") % 97 === 0)
        .select(col("doc_id").as("bench_id"), col("toks").as("toks_b"))
      val corpus = sets.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("toks").as("toks_a"))
      corpus.crossJoin(broadcast(bench))
        .withColumn("inter",
          sorted_intersect_size(col("toks_a"), col("toks_b"))
            .cast("double"))
        .withColumn("jaccard", col("inter") /
          (size(col("toks_a")) + size(col("toks_b")) - col("inter")))
        .filter(col("jaccard") >= threshold)
        .groupBy("doc_id")
        .agg(max(col("jaccard")).as("max_jaccard"),
          count(lit(1)).as("n_bench_matches"))
        .withColumn("regime", lit("exact"))
        .orderBy("doc_id")
    } else
      fuzzyDecontaminateLsh(s, d)
        .select(col("doc_id"),
          col("max_jaccard").cast("double").as("max_jaccard"),
          col("n_bench_matches"))
        .withColumn("regime", lit("approx"))
        .orderBy("doc_id")
  }

  /** q137 — cross-document EXACT shared-span detection (the signal
    * behind exact-substring dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better": verbatim ≥N-token
    * overlap between documents, which fuzzy chunk similarity (q133)
    * and doc-level Jaccard (q121) both blur). Every 16-token rolling
    * window is a span key; two docs sharing a sampled span key share
    * a verbatim 16-token substring.
    *
    * Scale shape — the two classic failure modes and their guards,
    * both part of the operator's SEMANTICS (so the oracle applies
    * them identically):
    *
    *   - gram volume: winnowing-style CONTENT sampling — keep a span
    *     iff its md5 starts with '0' (1/16 of distinct span VALUES,
    *     deterministic on content, engine-identical) — bounds the
    *     join input to ~n·tokens/16 rows with no positional bias;
    *   - frequent-span blowup: a span appearing in d docs yields
    *     C(d,2) pairs, and a boilerplate span (site header, license
    *     text) makes that quadratic. Spans with df > [[SpanDfCap]]
    *     are excluded — at that frequency the span is boilerplate
    *     (q70's territory), not a duplication signal between any
    *     specific pair.
    *
    * After both guards the plan is: narrow gram projection →
    * hash-agg df filter → self equi-join on the span key →
    * per-pair count. No cartesian, no payload arrays through the
    * join. Fully oracle-checked (both guards are pure functions of
    * content, so DuckDB computes the identical sample and cap).
    */
  val SpanTokens = 16
  val SpanDfCap = 1000

  val sharedSpans: QueryDef = QueryDef.sql(
    "q137_shared_spans",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents WHERE len(string_split(text, ' ')) >= $SpanTokens),
       | g AS (SELECT doc_id, array_to_string(
       |   toks[i:i+${SpanTokens - 1}], ' ') AS gram
       |  FROM t, LATERAL (SELECT unnest(generate_series(1,
       |   len(toks) - ${SpanTokens - 1})) AS i)),
       | sg AS (SELECT DISTINCT doc_id, gram FROM g
       |  WHERE substring(md5(gram), 1, 1) = '0'),
       | keep AS (SELECT gram FROM sg GROUP BY gram
       |  HAVING count(*) <= $SpanDfCap),
       | sk AS (SELECT sg.doc_id, sg.gram FROM sg
       |  JOIN keep ON sg.gram = keep.gram)
       | SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(count(*) AS BIGINT) AS shared_spans
       | FROM sk a JOIN sk b ON a.gram = b.gram AND a.doc_id < b.doc_id
       | GROUP BY 1, 2 ORDER BY doc_a, doc_b""".stripMargin
      .replaceAll("\n", "")
  ) { (s, d) =>
    val toks = split(col("text"), " ")
    // conditional fan-out — see [[removeSharedSpansCore]] (r20)
    val grams = graft.Scale.rebalanceNarrowWideScan(Tables.documents(s, d))
      .select(col("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= SpanTokens)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - (SpanTokens - 1)))
          .as("i"),
        col("toks"))
      .select(col("doc_id"),
        array_join(slice(col("toks"), col("i"), lit(SpanTokens)), " ")
          .as("gram"))
      .filter(substring(md5(col("gram")), 1, 1) === "0")
      .distinct()
    val keep = grams.groupBy("gram")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= SpanDfCap)
      .select("gram")
    val sampled = grams.join(keep, "gram")
    sampled.select(col("gram"), col("doc_id").as("doc_a"))
      .join(sampled.select(col("gram"), col("doc_id").as("doc_b")), "gram")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_spans"))
      .orderBy("doc_a", "doc_b")
  }

  /** q138 — exact-substring REMOVAL: the transform half of q137's
    * detection (Lee et al. 2022 §4 removes every duplicated span from
    * all but one occurrence; q137 only reports the pairs). A document
    * keeps a span iff it is that span's canonical occurrence — the
    * min-doc_id holder (df counts DISTINCT docs) — and loses the
    * covered tokens otherwise. Two precise edges of that rule: a
    * keeper doc that repeats the span INTERNALLY keeps all of its own
    * occurrences (the canonical unit is the document, matching Lee et
    * al.'s cross-document setting; q142 handles intra-doc
    * repetition), and the canonical copy of span A can still lose
    * tokens to an OVERLAPPING span B whose keeper is another doc —
    * interval union is deliberately unconditional, trading "exactly
    * one copy survives" for never emitting a partially-deduped
    * overlap region. Signal granularity is IDENTICAL to q137 by
    * construction:
    * the same winnowing-style md5-'0' content sample (so removal sees
    * the same 1/16 of span values detection saw), the same
    * [[SpanDfCap]] boilerplate guard, plus df ≥ 2 (a span in one doc
    * is not duplication). Both guards are pure functions of content,
    * so the DuckDB oracle replays them exactly.
    *
    * Scale shape: the gram explode is q137's (input-linear after the
    * 1/16 content sample, no positional bias); removal starts ride
    * back to their doc as ONE collected array per doc (≤ tokens/16
    * entries — same order as the doc itself), and the excision is a
    * single codegen'd higher-order `filter` over the token array with
    * its index — no token-level shuffle, no cartesian, output one row
    * per input doc. Interval union is implicit: a token survives iff
    * NO removal start covers it, so overlapping spans merge for free.
    */
  val spanRemoval: QueryDef = QueryDef.sql(
    "q138_span_removal",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |  FROM documents),
       | g AS (SELECT doc_id, i, array_to_string(
       |   toks[i:i+${SpanTokens - 1}], ' ') AS gram
       |  FROM t, LATERAL (SELECT unnest(generate_series(1,
       |   len(toks) - ${SpanTokens - 1})) AS i)
       |  WHERE len(toks) >= $SpanTokens),
       | sg AS (SELECT doc_id, i, gram FROM g
       |  WHERE substring(md5(gram), 1, 1) = '0'),
       | dfs AS (SELECT gram, count(DISTINCT doc_id) AS df,
       |   min(doc_id) AS keeper FROM sg GROUP BY gram),
       | rm AS (SELECT sg.doc_id, sg.i FROM sg
       |  JOIN dfs ON sg.gram = dfs.gram
       |  WHERE dfs.df >= 2 AND dfs.df <= $SpanDfCap
       |    AND sg.doc_id > dfs.keeper),
       | cov AS (SELECT DISTINCT rm.doc_id, rm.i + o.o AS j FROM rm,
       |  LATERAL (SELECT unnest(generate_series(0,
       |   ${SpanTokens - 1})) AS o) o),
       | tok AS (SELECT t.doc_id, u.i, t.toks[u.i] AS tk FROM t,
       |  LATERAL (SELECT unnest(generate_series(1, len(t.toks)))
       |   AS i) u),
       | kept AS (SELECT tok.doc_id, tok.i, tok.tk FROM tok
       |  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.j
       |  WHERE cov.j IS NULL)
       | SELECT t.doc_id AS doc_id,
       |  coalesce(k.cleaned_text, '') AS cleaned_text,
       |  CAST(len(t.toks) - coalesce(k.kept, 0) AS BIGINT)
       |    AS removed_tokens
       | FROM t LEFT JOIN (SELECT doc_id,
       |   string_agg(tk, ' ' ORDER BY i) AS cleaned_text,
       |   count(*) AS kept FROM kept GROUP BY doc_id) k
       |  ON t.doc_id = k.doc_id
       | ORDER BY t.doc_id""".stripMargin.replaceAll("\n", "")
  ) { (s, d) => removeSharedSpans(Tables.documents(s, d)) }

  /** The q138 transform over any `(doc_id, text)` frame — exposed so
    * crafted-corpus specs can drive it directly.
    */
  def removeSharedSpans(docs: DataFrame): DataFrame =
    removeSharedSpansCore(docs).orderBy("doc_id")

  /** [[removeSharedSpans]] WITHOUT the final global sort — for
    * compositions (q153) that checkpoint and join the result: the
    * sort would be materialized inside the checkpoint (plus the
    * range-sampling re-execution of its child), and the optimizer
    * cannot drop it across the checkpoint boundary.
    */
  def removeSharedSpansCore(docs: DataFrame): DataFrame = {
    // conditional fan-out (r20): the gram explode below is the
    // operator's dominant cost and a one-row-group corpus serializes
    // it; identity below the size gate (bench plans unchanged)
    val base = graft.Scale.rebalanceNarrowWideScan(docs)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val sg = base
      .filter(size(col("toks")) >= SpanTokens)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("toks")) - (SpanTokens - 1)))
          .as("i"),
        col("toks"))
      .select(col("doc_id"), col("i"),
        array_join(slice(col("toks"), col("i"), lit(SpanTokens)), " ")
          .as("gram"))
      .filter(substring(md5(col("gram")), 1, 1) === "0")
    val dfs = sg.groupBy("gram")
      .agg(countDistinct(col("doc_id")).as("df"),
        min(col("doc_id")).as("keeper"))
      .filter(col("df") >= 2 && col("df") <= SpanDfCap)
    val starts = sg.join(dfs, "gram")
      .filter(col("doc_id") > col("keeper"))
      .groupBy("doc_id")
      .agg(collect_set(col("i")).as("starts"))
    base.join(starts, Seq("doc_id"), "left")
      // Merge the removal starts into disjoint coverage intervals
      // BEFORE the per-token test: the naive exists-over-starts is
      // O(tokens x starts) per document — quadratic exactly on the
      // operator's target input (a long, heavily duplicated doc has
      // the most starts) — while overlapping spans collapse into few
      // intervals (a fully duplicated run is ONE interval), so the
      // per-token test is exists-over-intervals, bounded by
      // tokens/SpanTokens and typically tiny.
      .withColumn("iv", when(col("starts").isNull, lit(null)).otherwise(
        expr(s"""aggregate(array_sort(starts),
          cast(array() as array<struct<lo:int,hi:int>>),
          (acc, s) -> if(size(acc) > 0
              AND s <= element_at(acc, -1).hi + 1,
            concat(slice(acc, 1, size(acc) - 1),
              array(named_struct('lo', element_at(acc, -1).lo,
                'hi', greatest(element_at(acc, -1).hi,
                  s + ${SpanTokens - 1})))),
            concat(acc,
              array(named_struct('lo', s,
                'hi', s + ${SpanTokens - 1})))))""")))
      .select(col("doc_id"), col("toks"),
        // 1-based token index idx+1 survives iff no merged interval
        // covers it (lo <= idx+1 <= hi)
        when(col("iv").isNull, col("toks")).otherwise(
          expr("filter(toks, (tk, idx) -> NOT exists(iv, " +
            "v -> idx + 1 >= v.lo AND idx + 1 <= v.hi))"))
          .as("kept"))
      .select(col("doc_id"),
        array_join(col("kept"), " ").as("cleaned_text"),
        (size(col("toks")) - size(col("kept"))).cast("long")
          .as("removed_tokens"))
  }

  val defs: Seq[QueryDef] =
    Seq(exact, minhashLsh, simhash, ngramJaccard, embeddingCosine, clusters,
      decontaminate, decontaminateBloom, incrementalNearDup,
      fuzzyDecontaminate, contaminationAttribution, sharedSpans,
      spanRemoval)
}
