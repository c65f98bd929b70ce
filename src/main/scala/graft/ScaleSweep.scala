package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measured-scaling sweep for the heavy query tier (q49 dedup
  * clustering, q60 decontamination, q62 curation pipeline, q81
  * PageRank, q84 PQ ANN, q101 batch BM25, q122 triangles, q124
  * fuzzy string join, q126 k-core): replicate the sf0.1
  * tables `SPARK_GRAFT_REPLICATE`× (default 10 — a decade above the
  * bench scale) into a synthetic sfDir and run each query end to end,
  * median of `SPARK_GRAFT_REPS` runs.
  *
  * Replication semantics: each document replica appends ~30% salt
  * tokens unique to the (replica, document) pair, so near-dup
  * cliques stay WITHIN a replica (cross-replica Jaccard ≤ 1/1.3 <
  * 0.9) and true near-dup pairs grow ~k×, not k²× — and, because
  * the salts are DOC-unique, they contribute no shared trigrams, so
  * benchmark-contamination density stays that of the base corpus
  * instead of saturating to 100% (replica-level salts made every doc
  * share salt trigrams with its replica's benchmark members, which
  * turned q60's measurement into "exact tier over the whole corpus").
  * Embeddings shift ids only (ANN corpus grows k×, query set stays
  * fixed); lineitem shifts order/part keys so q81's co-purchase graph
  * grows k× with per-replica structure. Derived columns not used by
  * the tier (e.g. documents.n_chars) are carried verbatim.
  *
  * Replica ids live in HIGH bits: `id + rep · ReplicaOffset`, with
  * the offset divisible by 10 and 7 and below the media tier's
  * CopyIdOffset headroom — so every `id % 10` / `id % 7` routing
  * decision (q156's video corpus selection, q134/q139's delta
  * slices, q157/q158's batch slices) gives each replica the same
  * slice shape the base corpus has. The old `id·k + rep` scheme
  * collapsed `id % k` to the replica number, which silently emptied
  * q156's corpus for every replica but 0 (SWEEP_r11 protocol note).
  */
object ScaleSweep {

  /** 7·10^10: divisible by 10 and 7 (the engine's id-routing moduli),
    * and 15 replicas stay under [[graft.mm.MediaDedup.CopyIdOffset]]
    * (2^40) so media copy/namespace ids keep their headroom.
    *
    * The 15× media ceiling is this offset, not the engine (r15
    * verdict item 6): the binding constraint is k·offset ≤ 2^40 ≈
    * 1.1e12, so the DEFAULT offset caps k at 15 while any offset
    * that (a) is divisible by 70 (id-routing moduli) and (b) exceeds
    * every base id at the source SF (sf0.1 maxima: l_orderkey 6e5,
    * doc/vec ids ≤ 1e4) lifts it — e.g. `SPARK_GRAFT_REPLICA_OFFSET=
    * 7000000000` (7e9) allows k ≤ 157. The override builds into its
    * own sweep dir (ids differ), so the default-offset 10× artifacts
    * stay comparable round over round.
    */
  val ReplicaOffset = 70000000000L

  def main(args: Array[String]): Unit = {
    val k = sys.env.getOrElse("SPARK_GRAFT_REPLICATE", "10").toInt
    val off0 = sys.env.get("SPARK_GRAFT_REPLICA_OFFSET").map(_.toLong)
      .getOrElse(ReplicaOffset)
    require(off0 % 70 == 0 && off0 >= 7000000L,
      s"replica offset $off0 must be divisible by 70 (the id-routing " +
        "moduli) and exceed every base id")
    require(k.toLong * off0 <= graft.mm.MediaDedup.CopyIdOffset,
      s"replicate=$k overflows the media id headroom " +
        s"(k * $off0 must stay <= 2^40); " +
        s"max ${graft.mm.MediaDedup.CopyIdOffset / off0}")
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    // v4 (r18): replicated tables are now WRITTEN with realistic
    // parallelism — the v3 builder's crossJoin of a 1-partition
    // sf0.1 scan produced ONE file with ONE row group per table
    // (500k rows at 100×), and a parquet scan cannot split inside a
    // row group, so every expensive derive over the sweep corpus
    // started from a serialized scan (the q75-at-100× 4085× skew
    // flag). Real crawl-scale tables are multi-writer; the sweep
    // corpus now matches. Floors re-base at v4 — quote cross-round
    // ratios only against same-layout references.
    // SPARK_GRAFT_SALT_EMB=1 (r18 verdict #5): perturb each embedding
    // replica with deterministic per-(vec_id, dim) noise so the 100×
    // vector corpus has HEALTHY cell shapes. Verbatim replicas are
    // indivisible for any vector-space partitioner — at 100× every
    // fine cell was a multiple of 100 copies and the size-biased
    // probed cell ran 3.1× inflated, a replication
    // artifact no real corpus exhibits. ±0.1/dim uniform on a
    // unit-norm 64-dim vector ⇒ copy↔base cosine ≈ 0.9: replicas
    // stay base-related (the corpus keeps its geometry) but are
    // separable points, like fresh near-neighbor draws. Own dir
    // suffix — floors from salted dirs are a different corpus.
    val saltEmb = sys.env.get("SPARK_GRAFT_SALT_EMB").contains("1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SWEEP_DIR",
      s"/tmp/graft_sfx${k}v4" +
        (if (saltEmb) "se" else "") +
        (if (off0 != ReplicaOffset) s"_o$off0" else ""))
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt.max(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Scale.sessionBuilder("graft-scale-sweep", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Sweep-experiment conf passthrough (shared parser, graft.Scale):
    // SPARK_GRAFT_SESSION_CONFS="k=v;k2=v2" sets session confs before
    // any query builds — how a sweep measures a conf dial (e.g. the
    // r16 widePhashBands 30× recovery point) without code edits.
    Scale.applyEnvConfs(spark, m => println(s"SWEEP $m"))

    // keyed on the NEWEST table so a sweep dir built by an older
    // version of this tool (without part.parquet) rebuilds
    if (!new java.io.File(s"$out/part.parquet").exists()) {
      // the offset must clear every ACTUAL base id or replica id
      // spaces overlap and rows silently collapse (r16 review: the
      // static 7e6 floor only encoded sf0.1's maxima; the source dir
      // is an argument, so check the real tables once per build)
      val maxBase = Seq(
        ("documents", "doc_id"), ("embeddings", "vec_id"),
        ("lineitem", "l_orderkey"), ("lineitem", "l_partkey"),
        ("part", "p_partkey")).map { case (t, c) =>
        spark.read.parquet(s"$src/$t.parquet")
          .agg(max(col(c)).cast("long")).head.getLong(0)
      }.max
      require(off0 > maxBase,
        s"replica offset $off0 must exceed the max base id $maxBase " +
          s"of $src or replica id spaces overlap")
      def reps10(df: DataFrame): DataFrame =
        df.crossJoin(spark.range(k).select(col("id").as("rep")))
      val off = lit(off0)
      reps10(spark.read.parquet(s"$src/documents.parquet"))
        .withColumn("doc_id", col("doc_id") + col("rep") * off)
        .withColumn("text", concat_ws(" ", col("text"),
          array_join(transform(
            sequence(lit(1),
              ceil(size(split(col("text"), " ")) * 0.3).cast("int")),
            i => concat(lit("r"), col("rep"), lit("d"), col("doc_id"),
              lit("t"), i)), " ")))
        .drop("rep")
        .repartition(64)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")
      val embReps = reps10(spark.read.parquet(s"$src/embeddings.parquet"))
        .withColumn("vec_id", col("vec_id") + col("rep") * off)
      val embOut =
        if (!saltEmb) embReps
        else embReps.withColumn("embedding",
          zip_with(col("embedding"),
            transform(sequence(lit(1), size(col("embedding"))),
              i => ((pmod(xxhash64(col("vec_id"), i), lit(2001L))
                - lit(1000L)).cast("double") / 10000.0)),
            (x, n) => (x.cast("double") + n).cast("float")))
      embOut
        .drop("rep")
        .repartition(64)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      reps10(spark.read.parquet(s"$src/lineitem.parquet"))
        .withColumn("l_orderkey", col("l_orderkey") + col("rep") * off)
        .withColumn("l_partkey", col("l_partkey") + col("rep") * off)
        .drop("rep")
        .repartition(64)
        .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      // part names get a per-replica salt whose pairwise levenshtein
      // distance exceeds q124's threshold for ANY two distinct reps
      // ("z7z7z7" vs "z12z12z12" ≥ 3 edits): within-replica pairs
      // keep their base distance (same suffix both sides), while
      // cross-replica near-identical names are pushed OUT of the
      // match set — fuzzy-dup clusters grow k×, not k²×.
      reps10(spark.read.parquet(s"$src/part.parquet"))
        .withColumn("p_partkey", col("p_partkey") + col("rep") * off)
        .withColumn("p_name", concat(col("p_name"), lit(" "),
          concat(lit("z"), col("rep"), lit("z"), col("rep"),
            lit("z"), col("rep"))))
        .drop("rep")
        .repartition(64)
        .write.mode("overwrite").parquet(s"$out/part.parquet")
      println(s"SWEEP built $out at ${k}x from $src")
    }

    // dev-loop subset (same anchored contract as Bench/Verify)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def wanted(name: String): Boolean =
      only.forall(_.exists(t => name == t || name.startsWith(t + "_")))
    val tier = Seq(
      // q31/q75 joined in round 18 for the 100×-class points (r17
      // verdict #6): the 0.9-threshold minhash-LSH paths are clean
      // under the doc-unique salts (cross-replica Jaccard ≈ 0.77 <
      // 0.9 keeps cliques within a replica), same argument as q49.
      "q31_dedup_minhash_lsh", "q75_incremental_neardup",
      "q49_dedup_clusters", "q60_decontaminate",
      "q62_curation_pipeline", "q81_pagerank", "q84_ann_pq",
      "q136_ann_ivfpq",
      "q101_bm25_batch",
      // q121/q133/q110 are deliberately absent: the replicated
      // corpus's token-set dup density is adversarial for EXACT
      // Jaccard-0.6 operators (cross-replica salt fraction keeps
      // same-base Jaccard ≈ 0.77 > 0.6 — and for q133's chunks the
      // appended salts don't touch the identical leading 64-token
      // windows at all — so the TRUE pair count grows k², measuring
      // output volume, not the operator). The 0.9-threshold paths
      // (q31/q49) are clean: 0.77 < 0.9 keeps cliques within a
      // replica.
      "q117_curation_v2", "q122_triangles", "q123_contamination_attrib",
      "q124_fuzzy_string_join", "q126_kcore", "q127_knn_join",
      // q137's span keys are verbatim content: the doc-unique salts
      // leave base-text windows intact, so cross-replica same-base
      // pairs are TRUE shared spans and output grows ~k² like
      // q123's — the sweep still bounds the input-side stages
      // (gram explode, sample, df-cap) which are the scale risk.
      "q137_shared_spans",
      // q138 (the removal transform over q137's detection) shares
      // q137's k² output caveat on the PAIR side, but its final
      // output is one row per document (k-linear); the sweep bounds
      // the same input-side stages plus the per-doc span-merge.
      "q138_span_removal",
      // q107/q108 are fixed-overhead-dominated at bench scale (5000
      // docs); their sweep points pin that cost stays flat-to-linear
      // in documents, closing the round-8 regression attribution.
      "q107_temperature_sample", "q108_reservoir_sample",
      // round-9 additions: incremental IVF-PQ ingest+lookup, filtered
      // IVF search (replicated-corpus recall saturates — exact-dup
      // replicas dominate top-5 — so the informative sweep signal is
      // the warm latency), and the intra-doc repetition signals
      // (per-doc aggregates, the cleanest linear-scaling candidate).
      "q139_ivfpq_incremental", "q141_ann_filtered_ivf",
      "q142_intradoc_repetition",
      // q143: reference-trained LM scoring is broadcast joins over
      // the bigram stream + per-doc aggregates; the bucketing's
      // distinct-value window is deliberately corpus-size-free —
      // the sweep pins the whole composition stays input-linear.
      "q143_perplexity_buckets",
      // q144: the hashed-feature contrast to q143 — its count tables
      // are 4096 rows BY CONSTRUCTION, so unlike q143 the salted
      // sweep vocabulary cannot inflate them; the sweep pins that
      // structural bound showing up as flat broadcast cost.
      "q144_dsir_select",
      // q146: q81's per-round join+aggregate shape with seed-
      // concentrated teleport — same graph, same iteration count, so
      // its tier points should track q81's.
      "q146_trustrank",
      // q147: the corpus-sized stage is one per-(source, lang) token
      // count (grows ~1.3k× tokens with the salts); the water-filling
      // itself runs on the constant-size group summary, so the sweep
      // pins "aggregate linear, solve O(1)".
      "q147_token_budget",
      // q148: 3-round weighted LPA on the replicated co-purchase
      // graph — per-round join+aggregate+top-1, the q81 shape, so
      // its tier points should track q81/q146's.
      "q148_label_propagation",
      // q150: the assignment pass is linear in vecs·|labels| with
      // broadcast centroids — the k-means-assignment shape; the
      // sweep pins the exploded join + partial-agg staying linear
      // in the replicated vector count (labels stay 10).
      "q150_centroid_assign",
      // q153: the five-stage composition (q138 -> q143 -> q144 ->
      // q147 -> q67) — its sweep point should track roughly the SUM
      // of its stages' points (span removal dominates); selection and
      // budget run on bounded frames, so the tail stages are flat.
      "q153_curation_v3",
      // q149: the doc-unique salts are ADVERSARIAL for type counting
      // — every salt token is a fresh hapax type, so the (source,
      // term) table grows ~linearly with corpus TOKENS (not vocab),
      // the worst case for this aggregate; the top-K fit stays
      // K-bounded regardless.
      "q149_zipf_profile",
      // round-11 media tier: corpora derive from doc_id alone and
      // replica ids are fresh, so cross-replica media are unrelated
      // (id-seeded content) and pair volume grows ~k, never k² — the
      // clean scaling regime. Rep 1 pays the decode+hash pass into
      // the per-session cache; later reps price the banded join /
      // cluster serving (the same cache-backed median semantics as
      // q49/q84/q127 in this tier). q156 joined in round 12: the
      // high-bit replica ids preserve its `id % 10 == 0` corpus
      // selection, so every replica contributes videos.
      "q152_media_perceptual_dedup", "q154_audio_perceptual_dedup",
      "q155_media_dup_clusters", "q156_video_frame_dedup",
      "q157_incremental_media_dedup", "q158_incremental_audio_dedup",
      "q159_incremental_video_dedup")
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    // JVM/codegen warmup so the first tier query isn't billed for it
    spark.range(100000).selectExpr("sum(id)").collect()
    // Per-query skew audit as part of every sweep (r17 verdict #4):
    // the round's two best finds (band saturation, the media hash
    // caches' serial scan) both came from instruments, not walls —
    // and the serial scan needed a MANUAL post-close StageProbe pass.
    // The same task-metrics listener now rides the sweep's final
    // timed rep of each query, and SWEEP_JSON carries each query's
    // worst material-stage skew with a >10× flag list, so the next
    // skew defect is caught at round close, not by a hand-run probe.
    val skewColl = new StageProbe.Collector
    spark.sparkContext.addSparkListener(skewColl)
    val skewByQuery =
      scala.collection.mutable.LinkedHashMap[String, String]()
    val skewFlags = scala.collection.mutable.ArrayBuffer[String]()
    val results = tier.filter(wanted).map { name =>
      val fn = SparkEntry.queries(name)
      // Warm-family discipline (r15, shared with Bench.warmFamily):
      // cache-backed queries pay one-time fits/index/edge builds on
      // their first run — before r15 that build rode rep 1 and the
      // MEDIAN, which cost seven false-mover re-measures in the r15
      // round-close alone (and r14's 37-64s stall-confounded graph
      // figures). One UNTIMED warmup run for those members makes the
      // medians steady-state; the build price is measured separately
      // (the perfbench catalog build pass), and the `warmed` list in SWEEP_JSON flags the accounting so
      // a cross-round comparison can never mistake it for a kernel
      // win (the compare_bench warm-family lesson, applied here).
      val warm = Bench.isWarm(name)
      if (warm)
        try { fn(spark, out).count() } catch { case _: Throwable => () }
      val times = (1 to reps).map { rep =>
        if (rep == reps) {
          // Epoch boundary: the collector rides the ASYNC listener
          // bus, so stragglers from the previous rep's jobs can
          // arrive after clear() and contaminate the audited final
          // rep (spurious skew flags). Drain BOTH sides of the
          // boundary — here and before the snapshot below.
          org.apache.spark.graft.ListenerBridge
            .drain(spark.sparkContext, 5000)
          skewColl.clear() // audit the final, steady rep
        }
        val t0 = System.nanoTime()
        val n = fn(spark, out).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val tag = if (warm) " (steady)" else ""
        println(f"SWEEP $name%-24s ${k}x  $dt%7.2f s   rows=$n$tag")
        dt
      }
      // Deterministic drain before the snapshot (replaces the old
      // fixed 1200 ms sleep, which was a guess about bus latency).
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext, 5000)
      val (tt, _, _, nm) = skewColl.snapshot()
      StageProbe.worstMaterialSkew(tt, nm).foreach {
        case (ratio, stage, tasks, sumS) =>
          val esc = stage.replace("\\", "\\\\").replace("\"", "\\\"")
          skewByQuery(name) = f"""{"worst_skew":$ratio%.1f,""" +
            f""""stage":"$esc","tasks":$tasks,""" +
            f""""stage_task_time_sum_s":$sumS%.2f}"""
          if (ratio > 10.0) {
            skewFlags += name
            // host provenance on the flag: a stall window inflates
            // max/med too (a stalled subset of tasks reads as skew —
            // the r18 q124 adjudication), so the flag carries the
            // loadavg for the reader to weigh, and the standing rule
            // is: a flag is confirmed DATA skew only if the ratio
            // reproduces on a quiet rep (StageProbe per-rep tables)
            val la = try {
              val src = scala.io.Source.fromFile("/proc/loadavg")
              try src.mkString.trim.split(" ").take(3).mkString(" ")
              finally src.close()
            } catch { case _: Exception => "?" }
            println(f"SWEEP SKEW-FLAG $name worst material-stage " +
              f"max/med $ratio%.1fx in '$stage' ($tasks tasks, " +
              f"${sumS}%.2f s task time, loadavg $la — confirm on a " +
              "quiet StageProbe rep before reading as data skew)")
          }
      }
      (name, median(times), warm)
    }
    val qs = results.map { case (n, t, _) => f""""$n":$t%.4f""" }
      .mkString("{", ",", "}")
    val warmedJson = results.filter(_._3).map(r => s""""${r._1}"""")
      .mkString("[", ",", "]")
    // Streaming-tier entry (r14 verdict item 5): the batch and
    // incremental media tiers have sweep points; the streaming video
    // near-dup had probe curves (SWEEP_r13) but no STANDING
    // sweep entry, so a regression there was invisible to the
    // round-close net. Same corpus generator as those curves (id-seeded
    // originals + planted transformed copies, replica ids in the
    // high bits so cross-replica content is unrelated and true pairs
    // grow k×), driven through videoNearDupStream as MemoryStream
    // micro-batches in a DEDICATED session (the operator mutates
    // session streaming confs). Records warm-batch ingest throughput
    // (batch 0 pays plan/codegen, excluded) and emitted pairs — the
    // pair count is itself a correctness pin: it must equal the batch
    // tier's planted-pair count at this scale.
    val streamJson = if (!wanted("stream_video_neardup")) "null" else {
      import java.sql.Timestamp
      import graft.mm.{MediaDedup, VideoDedup}
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val batches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "10").toInt
      val baseIds = spark.read.parquet(s"$src/documents.parquet")
        .select("doc_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
        .filter((id: Long) => id % 10 == 0).collect().sorted
      val ids = for (rep <- 0 until k; id <- baseIds)
        yield id + rep * off0
      val vids = spark.sparkContext.parallelize(ids, 64).flatMap { vid =>
        val v = VideoDedup.syntheticVideo(vid)
        Seq((vid, v),
          (vid + MediaDedup.CopyIdOffset,
            VideoDedup.transformedVideo(vid, v)))
      }.collect()
      val ss = spark.newSession()
      import ss.implicits._
      val input = MemoryStream[(Long, String, Array[Byte], Timestamp)](ss)
      val qname = s"sweep_video_stream_$k"
      val q = graft.streaming.VideoNearDup.videoNearDupStream(
          input.toDF().toDF("doc_id", "mime", "media", "ts"),
          horizon = "1 hour")
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        val per = math.max(1, vids.length / batches)
        val groups = vids.grouped(per).toSeq
        var warmNanos = 0L
        var warmVids = 0L
        groups.zipWithIndex.foreach { case (g, i) =>
          val t0 = System.nanoTime()
          input.addData(g.map { case (id, bytes) =>
            (id, "video/x-graft", bytes,
              new Timestamp(1700000000000L + i * 1000L))
          })
          q.processAllAvailable()
          val dt = System.nanoTime() - t0
          if (i > 0) { warmNanos += dt; warmVids += g.length }
        }
        val pairs = ss.table(qname).count()
        val vps = if (warmVids == 0) 0.0 else warmVids / (warmNanos / 1e9)
        println(f"SWEEP stream_video_neardup    ${k}x  " +
          f"$vps%7.1f videos/s  pairs=$pairs")
        f"""{"videos":${vids.length},"batches":${groups.length},""" +
          f""""videos_per_sec":$vps%.1f,"emitted_pairs":$pairs}"""
      } finally q.stop()
    }
    // Second streaming entry: the TEXT near-dup stream over the
    // REPLICATED documents table (the sweep dir built above), the
    // streaming analogue of the q31 batch path. No dedicated session
    // needed — nearDupCandidatesStream mutates no session confs.
    // Signals: warm-batch docs/s (regression watch) and max state
    // rows (must track ~one horizon of banded documents — docs ×
    // bands — not stream length: the bound that lets it run forever
    // at ingest scale).
    //
    // Emission pin (r15 verdict item 3): the replicated corpus's own
    // pairs can't pin emissions — its doc-unique salts depress
    // true-pair Jaccard below the 0.65 bar (a 0.9 base pair lands
    // ~0.56), so corpus emissions are borderline estimate-tail pairs
    // (0 at 1×, 266 at 10× in r15) and a silent no-emission
    // regression was invisible at 1×. The stream now also carries
    // PLANTED pairs: per (replica, every-10th base doc), two fresh
    // ids sharing one text = the base doc + a pair-shared salt block
    // 1.5× the doc's token count. Within a pair the texts are
    // identical (est Jaccard 1.0 — emission guaranteed: identical
    // signatures share every band bucket and the pair is adjacent in
    // the stream), while the heavy pair-unique salts push every
    // cross-pair Jaccard far below the bar (same base, other replica
    // ≈ 0.25; vs the corpus copy ≈ 0.36 — collision × estimate-tail
    // odds < 1e-6 per pair), so distinct planted-id pairs must equal
    // k × plantedBase EXACTLY at every scale — the nonzero,
    // parity-style pin the video entry already has. Planted docs ride
    // the tail of the stream and are counted in docs/s (disclosed:
    // docs grows ~1.2× vs the r15 entry — accounting, not kernel).
    val textStreamJson = if (!wanted("stream_text_neardup")) "null" else {
      import java.sql.Timestamp
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val batches = sys.env.getOrElse("SPARK_GRAFT_BATCHES", "10").toInt
      val corpus = spark.read.parquet(s"$out/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val plantBase = 1L << 50 // above any replicated id (~1e12)
      val baseDocs = spark.read.parquet(s"$src/documents.parquet")
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .filter(_._1 % 10 == 0).sortBy(_._1)
      val planted = for {
        rep <- 0 until k
        ((id, text), idx) <- baseDocs.zipWithIndex
        saltN = math.ceil(text.split(" ").length * 1.5).toInt
        salted = text + " " + (1 to saltN)
          .map(i => s"p${rep}d${id}s$i").mkString(" ")
        a = plantBase + (rep.toLong * baseDocs.length + idx) * 2
        m <- Seq((a, salted), (a + 1, salted))
      } yield m
      val expectedPlanted = k.toLong * baseDocs.length
      val docs = corpus ++ planted
      import spark.implicits._
      val input = MemoryStream[(Long, String, Timestamp)](spark)
      val qname = s"sweep_text_stream_$k"
      val q = graft.streaming.NearDup.nearDupCandidatesStream(
          input.toDF().toDF("doc_id", "text", "ts"),
          horizon = "1 hour")
        .writeStream.format("memory").queryName(qname)
        .outputMode("append").start()
      try {
        val per = math.max(1, docs.length / batches)
        val groups = docs.grouped(per).toSeq
        var warmNanos = 0L
        var warmDocs = 0L
        var maxState = 0L
        groups.zipWithIndex.foreach { case (g, i) =>
          val t0 = System.nanoTime()
          input.addData(g.map { case (id, text) =>
            (id, text, new Timestamp(1700000000000L + i * 1000L))
          })
          q.processAllAvailable()
          val dt = System.nanoTime() - t0
          if (i > 0) { warmNanos += dt; warmDocs += g.length }
          maxState = math.max(maxState,
            Option(q.lastProgress).toSeq.flatMap(_.stateOperators)
              .map(_.numRowsTotal).sum)
        }
        val cands = spark.table(qname).count()
        val plantedPairs = spark.table(qname)
          .filter(col("doc_a") >= plantBase && col("doc_b") >= plantBase)
          .select("doc_a", "doc_b").distinct().count()
        val pinOk = plantedPairs == expectedPlanted
        val dps = if (warmDocs == 0) 0.0 else warmDocs / (warmNanos / 1e9)
        println(f"SWEEP stream_text_neardup     ${k}x  " +
          f"$dps%7.1f docs/s  state_rows=$maxState  candidates=$cands  " +
          f"planted=$plantedPairs/$expectedPlanted " +
          (if (pinOk) "PIN-OK" else "PIN-FAIL"))
        f"""{"docs":${docs.length},"batches":${groups.length},""" +
          f""""docs_per_sec":$dps%.1f,"max_state_rows":$maxState,""" +
          f""""candidates":$cands,""" +
          f""""planted_pairs_expected":$expectedPlanted,""" +
          f""""planted_pairs_observed":$plantedPairs,""" +
          f""""planted_pin_ok":$pinOk}"""
      } finally q.stop()
    }
    val skewJson = skewByQuery.map { case (n, j) => s""""$n":$j""" }
      .mkString("{", ",", "}")
    val skewFlagJson = skewFlags.map(n => s""""$n"""")
      .mkString("[", ",", "]")
    println(s"""SWEEP_JSON {"replicate":$k,"reps":$reps,""" +
      s""""queries":$qs,"warmed":$warmedJson,""" +
      s""""skew":$skewJson,"skew_flags":$skewFlagJson,""" +
      s""""stream_video_neardup":$streamJson,""" +
      s""""stream_text_neardup":$textStreamJson}""")
    spark.stop()
  }
}
