package graft.text


import graft.{QueryDef, StandingState, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding vocabulary learning and tokenization (Sennrich
  * et al. 2016) — the real subword tokenizer an LLM data pipeline
  * sits on, replacing q39's whitespace/regex approximations.
  *
  * Learning runs on the WORD-FREQUENCY table, not the raw corpus —
  * the classic reduction: a 100 TB corpus collapses to its distinct
  * words (∼10⁸ rows) weighted by count, and every merge round is then
  * one bounded explode + hash-aggregate over that table (pair counts,
  * map-side partials) plus one narrow symbol-merge map. Only the
  * single argmax row ever reaches the driver per round; the vocabulary
  * table itself stays distributed, `localCheckpoint`ed per round to
  * truncate lineage (the q49 discipline). Round count = merge count —
  * a conf knob (`spark.graft.bpe.merges`), because each round is a
  * fixed-latency Spark job: fine for the 10²-10³ merges of a real
  * vocab build, dominated by job overhead at toy scale.
  *
  * Ties in pair frequency break lexicographically, so the learned
  * merge list is fully deterministic — BpeSpec pins it against an
  * independent single-threaded reference implementation.
  */
object Bpe {

  final case class Merge(rank: Int, left: String, right: String)

  def effMerges(s: SparkSession): Int =
    s.conf.getOption("spark.graft.bpe.merges").map(_.toInt).getOrElse(32)

  /** Distinct-word frequency table `(word, freq)` of a documents
    * table — learning input shape.
    */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Learn `numMerges` BPE merges from a `(word, freq)` table. */
  def learnMerges(words: DataFrame, numMerges: Int): Seq[Merge] = {
    val spark = words.sparkSession
    import spark.implicits._
    var vocab: Dataset[(Seq[String], Long)] = words
      .as[(String, Long)]
      .map { case (w, f) => (w.map(_.toString): Seq[String], f) }
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer[Merge]()
    var r = 0
    var done = false
    while (r < numMerges && !done) {
      // pair counts: one explode + one hash-agg (map-side partials);
      // argmax (count DESC, pair ASC for determinism) — one driver row
      val best = vocab.toDF("syms", "freq")
        // sequence(1, 0) steps BACKWARD for 1-symbol words (ANSI
        // index error) — pairless words contribute nothing anyway
        .filter(size(col("syms")) > 1)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(syms) - 1)," +
            " i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("freq").as("n"))
        .orderBy(desc("n"), asc("l"), asc("r"))
        .limit(1).collect()
      if (best.isEmpty) done = true
      else {
        val (l, rr) = (best(0).getString(0), best(0).getString(1))
        merges += Merge(r, l, rr)
        val prev = vocab
        vocab = vocab.map { case (syms, f) => (mergePair(syms, l, rr), f) }
          .localCheckpoint()
        prev.unpersist()
        r += 1
      }
    }
    merges.toSeq
  }

  /** Learn-or-reuse for (session, dir): merges over the sfDir
    * documents table at the session's configured merge count, learned
    * once per (session, dir, merges) — Verify runs the query and its
    * spec gate in one JVM, and relearning would double the rounds.
    */
  def mergesFor(s: SparkSession, d: String): Seq[Merge] = {
    val n = effMerges(s)
    StandingState(s, ("text.bpeMerges", d, n))(
      learnMerges(wordFreq(Tables.documents(s, d)), n))
  }

  /** One left-to-right pass replacing every adjacent (l, r) with the
    * concatenated symbol — the classic simultaneous merge step.
    */
  def mergePair(syms: Seq[String], l: String, r: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** Encode one word with a rank map: repeatedly merge the
    * lowest-rank adjacent pair until none applies (standard greedy
    * BPE apply).
    */
  def encodeWord(word: String,
      ranks: Map[(String, String), Int]): Seq[String] = {
    var syms: Seq[String] = word.map(_.toString)
    var go = syms.length > 1
    while (go) {
      var bestRank = Int.MaxValue
      var bestL = ""; var bestR = ""
      var i = 0
      while (i + 1 < syms.length) {
        val rk = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (rk < bestRank) { bestRank = rk; bestL = syms(i); bestR = syms(i + 1) }
        i += 1
      }
      if (bestRank == Int.MaxValue) go = false
      else syms = mergePair(syms, bestL, bestR)
    }
    syms
  }

  /** Tokenize a `(word)` table: `(word, tokens array<string>)`.
    * The rank map broadcasts; per-word encoding runs in a typed
    * `mapPartitions` (inherently sequential per word — the same
    * per-row imperative class as the media decoders).
    */
  def encodeWords(words: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      merges.map(m => (m.left, m.right) -> m.rank).toMap)
    words.select("word").as[String].mapPartitions { it =>
      val ranks = bc.value
      it.map(w => (w, encodeWord(w, ranks)))
    }.toDF("word", "tokens")
  }

  /** q109 — learn merges from the corpus, tokenize every document,
    * report per-doc BPE token count vs character and whitespace
    * counts (the compression BPE buys). Per-word token counts come
    * from the encoded WORD table joined back on the word — each
    * distinct word is encoded once, however often it occurs.
    * Rows-only (BPE learning is iterative and not ANSI-expressible);
    * the SPECGATES entry gates lossless round-trip (tokens
    * re-concatenate to every word) and real compression.
    */
  val bpeTokens: QueryDef = QueryDef.rowsOnly("q109_bpe_tokens") { (s, d) =>
    val docs = Tables.documents(s, d)
    val merges = mergesFor(s, d)
    val encoded = encodeWords(
      wordFreq(docs).select("word"), merges)
      .select(col("word"), size(col("tokens")).as("wtok"))
    docs.select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .join(encoded.hint("broadcast"), "word")
      .groupBy("doc_id")
      .agg(sum("wtok").cast("long").as("n_bpe_tokens"),
        count(lit(1)).cast("long").as("n_words"),
        sum(length(col("word"))).cast("long").as("n_chars"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") / col("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  val defs: Seq[QueryDef] = Seq(bpeTokens)
}
