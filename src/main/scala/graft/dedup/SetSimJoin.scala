package graft.dedup

import graft.{QueryDef, Tables}
import graft.functions.HashFunctions.sorted_intersect_size
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Exact set-similarity self-join via prefix filtering (the
  * AllPairs/PPJoin family — Chaudhuri, Ganti & Kaushik, ICDE 2006;
  * Xiao et al., WWW 2008). Finds EVERY document pair whose word-set
  * Jaccard is ≥ the threshold, with no recall loss — the exact
  * complement to the banded-MinHash path ([[Dedup.minhashLsh]]),
  * which trades recall for speed in the mid-similarity band.
  *
  * Why this scales where the naive exact join (q33's bounded
  * all-pairs sample) cannot: order every document's tokens by global
  * rarity (document frequency asc, token asc — one total order for
  * the whole corpus). Two sets with Jaccard ≥ t MUST share a token
  * inside each other's first `|s| - ceil(t·|s|) + 1` rarest tokens
  * (pigeonhole on the ≥ t·|union| shared elements), so candidate
  * pairs come from an equi join on PREFIX tokens only. Prefix tokens
  * are by construction the rarest ~40% of each document, so the
  * per-token candidate blowup is bounded by the df of rare tokens —
  * the frequent-token quadratic explosion never happens. At cluster
  * scale each stage is one shuffle: a df aggregate (token key), a
  * per-doc sort (doc key), a prefix-token equi join, and a hash-join
  * verify on the pair key. No cartesian anywhere, no cutover needed —
  * this IS the 100 TB exact path.
  *
  * Threshold parity with the oracle: t = 0.6 compares as the IEEE
  * double 0.59999…; for set sizes ≪ 10⁶ no integer ratio i/u lands
  * between the double and the rational 3/5, so `jaccard >= 0.6` is
  * decided identically by both engines. The pruning bounds (length
  * ratio and prefix length) are evaluated in SCALED INTEGER
  * arithmetic against num/den = ⌊t·10⁶⌋/10⁶ ≤ t — a floor-scaled
  * threshold can only loosen a necessary condition, so pruning never
  * drops a pair the final filter would keep, for ANY caller-supplied
  * t (a direct float product like `sb ≥ sa·t` does not have this
  * property: the product can round UP past the exact rational and
  * prune a boundary pair).
  *
  * The reference has no similarity operators at all (its nearest is
  * the cosine item-item grid, `OfflineRecommender.scala:80-90`); this
  * is a pure extension in the curation direction.
  */
object SetSimJoin {

  /** Jaccard threshold — 3/5, chosen so the double literal 0.6 and
    * the exact rational decide identically on small-int ratios.
    */
  val Threshold = 0.6

  /** The candidate stage of [[allPairs]] — (doc_a, doc_b) pairs
    * sharing a prefix token and passing the integer length bound,
    * BEFORE exact verification. Exposed so the skew probe can measure
    * candidate volume (the quantity the prefix filter exists to
    * bound) separately from true-pair output.
    */
  def prefixCandidates(docs: org.apache.spark.sql.DataFrame,
      idCol: String, textCol: String, t: Double = Threshold)
      : org.apache.spark.sql.DataFrame = {
    // Scaled-integer threshold num/den = floor(t*10^6)/10^6 <= t:
    // every bound below uses exact long arithmetic against it, so a
    // float product can never round UP past the exact rational and
    // prune a boundary pair (conservative for ANY t, not just the
    // default — see the object scaladoc). At t = 0.6 the prefix
    // length is identical to the rational ceil(3s/5) bound for all
    // set sizes below 200k tokens.
    val num = math.max(0L, math.floor(t * 1000000d).toLong)
    val den = 1000000L
    // exact floor division of non-negative longs (values stay well
    // inside double's 2^53 exact-integer range)
    def floorDiv(x: Column, d: Long): Column =
      ((x - pmod(x, lit(d))) / lit(d)).cast("long")
    // exact ceil(sz*num/den) <= the rational ceil(t*sz)
    def ceilT(sz: Column): Column =
      floorDiv(sz.cast("long") * num + (den - 1), den)
    val toks = docs.select(col(idCol).as("doc_id"),
      array_distinct(split(col(textCol), " ")).as("toks"))
    val ex = toks.select(col("doc_id"), explode(col("toks")).as("tok"))
    // global document frequency — the rarity order every prefix uses
    val dfreq = ex.groupBy("tok").agg(count(lit(1)).as("df"))
    // per-doc tokens sorted rare-first; keep only the prefix, and
    // explode it to (tok, doc, size) — the full array never rides
    // through the candidate join
    val pref = ex.join(dfreq, "tok")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok"))))
        .as("ord"))
      .select(col("doc_id"), size(col("ord")).as("sz"),
        explode(slice(transform(col("ord"), _.getField("tok")), lit(1),
          // prefix length |s| - ceil(t*|s|) + 1, ceil in scaled
          // integers (never shorter than the rational bound requires)
          (size(col("ord")) - ceilT(size(col("ord"))) + 1)
            .cast("int"))).as("tok"))
    // candidates: share a prefix token + length bound derived from t
    // (J >= t forces min >= t*max, since J <= min/max for sets) in
    // scaled integers: sb*den >= sa*num is implied by sb >= sa*t;
    // distinct before the verify join so a pair sharing k prefix
    // tokens verifies once. Dataset ALIASES of the one pref plan →
    // ReuseExchange computes the df-sort + prefix pipeline once, not
    // once per join side (the q124 lesson).
    pref.as("p").join(pref.as("q"), col("p.tok") === col("q.tok"))
      .filter(col("p.doc_id") < col("q.doc_id") &&
        col("q.sz").cast("long") * den >= col("p.sz").cast("long") * num &&
        col("p.sz").cast("long") * den >= col("q.sz").cast("long") * num)
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"))
      .distinct()
  }

  /** All pairs (doc_a < doc_b) with word-set Jaccard ≥ `t` over
    * `docs(idCol, textCol)`. Output: (doc_a, doc_b, jaccard).
    */
  def allPairs(docs: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, t: Double = Threshold)
      : org.apache.spark.sql.DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      array_distinct(split(col(textCol), " ")).as("toks"))
    val cand = prefixCandidates(docs, idCol, textCol, t)
    // exact verify on sorted 64-bit token hashes — linear merge per
    // pair (same representation q33 uses; xxhash64 injective in
    // practice at these set sizes)
    val ths = toks.select(col("doc_id"),
      array_sort(transform(col("toks"), x => xxhash64(x))).as("h"),
      size(col("toks")).as("n"))
    cand
      .join(ths.select(col("doc_id").as("doc_a"), col("h").as("ha"),
        col("n").as("na")), "doc_a")
      .join(ths.select(col("doc_id").as("doc_b"), col("h").as("hb"),
        col("n").as("nb")), "doc_b")
      .withColumn("inter",
        sorted_intersect_size(col("ha"), col("hb")).cast("double"))
      .withColumn("jaccard",
        col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  // The exact 1-in-4-sample pair set is the shared intermediate of
  // q121 (emits it), q110 (clusters it into the leakage-safe split),
  // and any future consumer of exact near-dup structure. Same
  // materialize-once discipline as Ann.cachedIndex / Tables
  // .cachedRatings: one (session, dir) builds it once and every
  // consumer reuses the persisted pairs — at cluster scale this is
  // "write the pair table once per corpus snapshot", not a local
  // shortcut.

  /** [[allPairs]] over the deterministic 1-in-4 document subsample at
    * the default threshold — (doc_a, doc_b, jaccard), persisted once
    * per (session, sfDir).
    */
  def cachedQuarterPairs(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    graft.StandingState(s, ("dedup.quarterPairs", d)) {
      val p = allPairs(
        Tables.documents(s, d).filter(col("doc_id") % 4 === 0),
        "doc_id", "text")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }

  /** q121 — exact Jaccard ≥ 0.6 self-join, registered on a
    * deterministic 1-in-4 document subsample (q33's precedent). The
    * subsample is about THIS corpus, not the algorithm: the synthetic
    * documents are template-generated so >5% of all pairs clear the
    * threshold (7.1M true pairs at sf0.1) — the answer itself is
    * quadratic in the dup-cluster sizes, and emitting it dominates
    * the run. A real crawl corpus has pair density ~10⁻⁶ and runs
    * [[allPairs]] on the full table. The oracle is the brute-force
    * quadratic spelling with the same integer length bound (pure
    * pruning — removes no qualifying pair).
    */
  val setSimJoinQ: QueryDef = QueryDef.sql(
    "q121_setsim_join",
    """WITH t AS (SELECT doc_id,
      |  list_distinct(string_split(text, ' ')) AS toks FROM documents
      |  WHERE doc_id % 4 = 0),
      | p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS inter,
      |  len(a.toks) AS la, len(b.toks) AS lb
      |  FROM t a JOIN t b ON a.doc_id < b.doc_id
      |   AND 5 * len(b.toks) >= 3 * len(a.toks)
      |   AND 5 * len(a.toks) >= 3 * len(b.toks))
      | SELECT doc_a, doc_b, inter / (la + lb - inter) AS jaccard
      | FROM p WHERE inter / (la + lb - inter) >= 0.6
      | ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", "")
  ) { (s, d) =>
    cachedQuarterPairs(s, d).orderBy("doc_a", "doc_b")
  }

  /** q133 — CHUNK-level exact near-dup pairs across documents: the
    * partial-duplication detector. Doc-level dedup (q30–q34, q121)
    * misses a document that embeds another's paragraphs inside fresh
    * text; chunking first (q52's 64-token/48-stride windows) and
    * running the exact set-similarity join on the CHUNKS surfaces
    * exactly those shared spans. Pure composition — the chunker and
    * [[allPairs]] are both already oracle-gated — on the q33/q121
    * 1-in-20 sample precedent (the quadratic oracle is the cost;
    * the Spark side is the prefix-filtered join). Chunk identity is
    * encoded as doc_id·10⁴ + chunk_idx (monotone, so allPairs'
    * canonical id order IS (doc, chunk) order), and same-doc pairs
    * are excluded — adjacent windows overlap by construction.
    */
  val chunkNearDupQ: QueryDef = QueryDef.sql(
    "q133_chunk_neardup",
    """WITH sd AS (SELECT doc_id, string_split(text, ' ') AS toks
      |  FROM documents WHERE doc_id % 20 = 0),
      | ch AS (SELECT doc_id, CAST(off / 48 AS BIGINT) AS chunk_idx,
      |   list_distinct(toks[off + 1 : off + 64]) AS ctoks
      |  FROM sd, LATERAL (SELECT
      |   unnest(generate_series(0, len(toks) - 1, 48)) AS off)),
      | p AS (SELECT a.doc_id AS doc_a, a.chunk_idx AS chunk_a,
      |   b.doc_id AS doc_b, b.chunk_idx AS chunk_b,
      |   CAST(len(list_intersect(a.ctoks, b.ctoks)) AS DOUBLE)
      |     AS inter,
      |   len(a.ctoks) AS la, len(b.ctoks) AS lb
      |  FROM ch a JOIN ch b ON a.doc_id < b.doc_id
      |   AND 5 * len(b.ctoks) >= 3 * len(a.ctoks)
      |   AND 5 * len(a.ctoks) >= 3 * len(b.ctoks))
      | SELECT doc_a, chunk_a, doc_b, chunk_b,
      |  inter / (la + lb - inter) AS jaccard
      | FROM p WHERE inter / (la + lb - inter) >= 0.6
      | ORDER BY doc_a, chunk_a, doc_b, chunk_b""".stripMargin
      .replaceAll("\n", "")
  ) { (s, d) =>
    val toks = split(col("text"), " ")
    val chunks = Tables.documents(s, d)
      .filter(col("doc_id") % 20 === 0)
      .select(col("doc_id"), toks.as("toks"))
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(48)))
          .as("off"),
        col("toks"))
      .select(
        (col("doc_id") * 10000 + (col("off") / 48).cast("long"))
          .as("cid"),
        array_join(slice(col("toks"), col("off") + 1, lit(64)), " ")
          .as("chunk_text"))
    allPairs(chunks, "cid", "chunk_text")
      .filter(floor(col("doc_a") / 10000) =!= floor(col("doc_b") / 10000))
      .select((col("doc_a") / 10000).cast("long").as("doc_a"),
        pmod(col("doc_a"), lit(10000)).cast("long").as("chunk_a"),
        (col("doc_b") / 10000).cast("long").as("doc_b"),
        pmod(col("doc_b"), lit(10000)).cast("long").as("chunk_b"),
        col("jaccard"))
      .orderBy("doc_a", "chunk_a", "doc_b", "chunk_b")
  }

  val defs: Seq[QueryDef] = Seq(setSimJoinQ, chunkNearDupQ)
}
