package graft.mm

import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Frame-hash video dedup — the third crawl modality next to q152's
  * rasters and q154's PCM: a re-encoded, trimmed, or rescaled copy of
  * a video is byte-distinct in every frame, but its FRAMES are
  * perceptually the originals' frames, so near-duplicate videos are
  * exactly the pairs sharing most of their sampled frames'
  * perceptual hashes.
  *
  * Shape (the brief's "dHash each sampled frame, band per (video,
  * frame-slot), score candidate videos by matched-slot fraction"):
  * one decode pass samples ≤ [[MaxSampledFrames]] frames per video
  * (stride sampling — at crawl scale a video contributes a constant
  * number of slots however long it runs) and dHashes each
  * ([[MediaDedup.dHash]] — the identical 64-bit kernel); each slot
  * then ships [[MediaDedup.Bands]] ids-only (band, key, video, slot)
  * rows; candidate FRAME pairs come from the within-bucket equi
  * self-join (never all-pairs), verify with one codegen'd
  * `bit_count(xor)`, and candidate VIDEO pairs aggregate matched
  * slots per (video_a, video_b) with `match_frac = max(matched_a /
  * slots_a, matched_b / slots_b)` — the `max` makes a TRIMMED copy
  * (fewer slots, all of them matching) score 1.0 instead of being
  * diluted by the original's extra frames. No raster ever shuffles;
  * per-pair state is slot counts.
  *
  * Container honesty: the JDK ships no video codec (mp4/mkv decode to
  * `decoded=false` in [[Multimodal.decode]]), so the fixture uses a
  * minimal deterministic frame container (`GVID`: magic, frame count,
  * length-prefixed PNG frames — [[encodeVideo]]/[[decodeVideoFrames]])
  * whose FRAMES are real PNGs decoded by the real `javax.imageio`
  * path. At a real crawl an ffmpeg-backed frame iterator replaces
  * [[decodeVideoFrames]]; every Spark-side shape (sampling, banding,
  * slot-fraction scoring) is the production one.
  */
object VideoDedup {

  /** Frames per synthetic video. */
  val Frames = 8

  /** Sampling cap: a video contributes at most this many hashed frame
    * slots (stride-sampled), so per-video candidate cost is constant
    * in video length.
    */
  val MaxSampledFrames = 16

  /** A video pair is a near-duplicate when at least this fraction of
    * the smaller side's sampled slots matches (frame Hamming ≤
    * [[MediaDedup.MaxHamming]]).
    */
  val MinMatchFrac = 0.6

  /** Frame-banding layout: (bands, bitsPerBand) for the LSH bucket
    * keys every video path (q156 batch, q159 incremental, streaming
    * VideoNearDup) derives from a frame's 64-bit dHash.
    *
    * Default (round 13): 3 bands × 21 bits. The r12 10× scale sweep
    * attributed q156's above-linear wall growth (13.2× at 10.0× pair
    * growth) to band-bucket collisions — 2^16 buckets/band saturate
    * once the corpus ships a few hundred thousand frame rows, and
    * every collision is a shuffled candidate row plus a Hamming
    * verify. 2^21 buckets/band is 32× the key space for the same
    * row count (3/4 of the banded rows, wider keys).
    *
    * The recall contract re-argued (pigeonhole): bands cover bits
    * 0..62 disjointly, so a frame pair differing in ≤ 2 banded bits
    * (bit 63 is unbanded — a diff there can never break a band)
    * still agrees on ≥ 1 whole band and MUST collide — guaranteed
    * candidate at Hamming ≤ 2, down from ≤ 3 under the legacy 4×16
    * layout; coverage from there to [[MediaDedup.MaxHamming]] stays
    * best-effort, exactly as before. Two structural cushions keep
    * the measured recall flat: planted re-encode/rescale transforms
    * sit at small per-frame distances (a trimmed copy's frames are
    * byte-identical, Hamming 0), and the video-level
    * [[MinMatchFrac]] bar tolerates a minority of per-frame misses
    * per pair. Measured: planted-transform recall ≥ 0.8 holds at all
    * three SFs (Gates q156/q159, VideoDedupSpec's every-transform
    * pin) — SWEEP_r13's q156 entry carries the 10× wall point.
    *
    * `spark.graft.video.wideFrameBands=false` restores the legacy
    * [[MediaDedup.Bands]]×16 layout (the image/audio single-hash
    * paths, where corpus rows per band are ~8-16× fewer, keep it).
    */
  def frameBandLayout(spark: org.apache.spark.sql.SparkSession)
      : (Int, Int) =
    if (spark.conf.getOption("spark.graft.video.wideFrameBands")
        .forall(_.toBoolean)) (3, 21)
    else (MediaDedup.Bands, 64 / MediaDedup.Bands)

  /** Explode `fhash` rows into (band, key) bucket rows under
    * [[frameBandLayout]] — the ONE banding spelling shared by the
    * batch, incremental, and streaming video paths.
    */
  private[graft] def withFrameBandKey(df: DataFrame): DataFrame = {
    val (bands, bandBits) = frameBandLayout(df.sparkSession)
    df.withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("key",
        expr(s"shiftrightunsigned(fhash, band * $bandBits)")
          .bitwiseAND(lit((1L << bandBits) - 1)))
  }

  // ---- GVID container: magic + count + length-prefixed frames ----

  private val Magic = Array[Byte]('G', 'V', 'I', 'D')

  def encodeVideo(frames: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.write(Magic)
    out.writeInt(frames.length)
    frames.foreach { f => out.writeInt(f.length); out.write(f) }
    out.flush()
    bos.toByteArray
  }

  /** Frames of a GVID payload; None for any malformed byte stream (a
    * corrupt file in a 100 TB scan must drop out, not fail the task).
    */
  def decodeVideoFrames(bytes: Array[Byte]): Option[Seq[Array[Byte]]] =
    try {
      val in = new java.io.DataInputStream(new ByteArrayInputStream(bytes))
      val magic = new Array[Byte](4)
      in.readFully(magic)
      if (!magic.sameElements(Magic)) return None
      val n = in.readInt()
      if (n < 0 || n > (1 << 16)) return None
      Some((0 until n).map { _ =>
        val len = in.readInt()
        if (len < 0 || len > (1 << 26)) return None
        val f = new Array[Byte](len)
        in.readFully(f)
        f
      })
    } catch { case _: Exception => None }

  /** (video_id, slot, fhash) for every decodable sampled frame in the
    * video scan — one decode pass, stride-sampled to
    * [[MaxSampledFrames]] slots, rasters never leave the task.
    */
  def hashVideos(media: Dataset[Multimodal.MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.flatMap { rec =>
        if (!rec.mime.startsWith("video/")) Iterator.empty
        else decodeVideoFrames(rec.media) match {
          case None => Iterator.empty
          case Some(frames) =>
            val stride = math.max(1,
              (frames.length + MaxSampledFrames - 1) / MaxSampledFrames)
            frames.indices.by(stride).iterator.flatMap { t =>
              val img =
                try ImageIO.read(new ByteArrayInputStream(frames(t)))
                catch { case _: Exception => null }
              if (img == null) None
              else Some((rec.doc_id, t / stride, MediaDedup.dHash(img)))
            }
        }
      }
    }.toDF("video_id", "slot", "fhash")
  }

  /** Near-duplicate video pairs from banded frame candidates:
    * (video_a < video_b, matched_a/b, slots_a/b, match_frac ≥
    * [[MinMatchFrac]]). Frame-level recall inherits
    * [[MediaDedup.nearDupPairs]]' pigeonhole contract (guaranteed ≤
    * Bands−1 bits, best-effort to MaxHamming); the slot-fraction bar
    * then tolerates a minority of missed or damaged frames per pair.
    */
  def videoDupPairs(hashes: DataFrame,
      minMatchFrac: Double = MinMatchFrac): DataFrame = {
    val banded = withFrameBandKey(
      hashes.select(col("video_id"), col("slot"), col("fhash")))
    // aliases of the one banded plan → ReuseExchange bands and
    // shuffles the frame table once, not once per join side
    val framePairs = banded.as("p")
      .join(banded.as("q"), col("p.band") === col("q.band") &&
        col("p.key") === col("q.key"))
      .filter(col("p.video_id") < col("q.video_id"))
      .select(col("p.video_id").as("video_a"), col("p.slot").as("slot_a"),
        col("q.video_id").as("video_b"), col("q.slot").as("slot_b"),
        col("p.fhash").as("ha"), col("q.fhash").as("hb"))
      // multi-band collisions dedup at candidate cardinality
      .groupBy("video_a", "slot_a", "video_b", "slot_b")
      .agg(first("ha").as("ha"), first("hb").as("hb"))
      .filter(expr("bit_count(ha ^ hb)") <= MediaDedup.MaxHamming)
    val slots = hashes.groupBy(col("video_id"))
      .agg(count(lit(1)).as("slots"))
    framePairs.groupBy("video_a", "video_b")
      .agg(countDistinct("slot_a").as("matched_a"),
        countDistinct("slot_b").as("matched_b"))
      .join(slots.select(col("video_id").as("video_a"),
        col("slots").as("slots_a")), "video_a")
      .join(slots.select(col("video_id").as("video_b"),
        col("slots").as("slots_b")), "video_b")
      .withColumn("match_frac",
        greatest(col("matched_a") / col("slots_a"),
          col("matched_b") / col("slots_b")))
      .filter(col("match_frac") >= minMatchFrac)
      .select("video_a", "video_b", "matched_a", "matched_b",
        "slots_a", "slots_b", "match_frac")
  }

  /** Frame t of video id: an id×t-seeded photo from the q152
    * generator (injective for t < 131, so no two videos share a
    * frame by construction and unrelated pairs sit at the random
    * frame-hash baseline).
    */
  def syntheticFrame(id: Long, t: Int): Array[Byte] =
    MediaDedup.syntheticPhoto(id * 131L + t)

  def syntheticVideo(id: Long): Array[Byte] =
    encodeVideo((0 until Frames).map(t => syntheticFrame(id, t)))

  /** The planted transformed duplicate: cycle per-frame JPEG
    * re-encode / trim the first 2 frames / per-frame 2× upscale by
    * id — the re-encoded / temporally-cropped / rescaled copies a
    * video crawl contains.
    */
  def transformedVideo(id: Long, video: Array[Byte]): Array[Byte] = {
    val frames = decodeVideoFrames(video).get
    encodeVideo((id / 10) % 3 match {
      case 0 => frames.map(MediaDedup.transformFrame(0, _))
      case 1 => frames.drop(2)
      case _ => frames.map(MediaDedup.transformFrame(1, _))
    })
  }

  /** The q156 video corpus: one [[Frames]]-frame video per 10th doc
    * plus a transformed copy at id + CopyIdOffset — the video mirror
    * of [[MediaDedup.mediaCorpus]] (sparser: videos carry
    * [[Frames]]× the raster work per doc).
    */
  def videoCorpus(s: org.apache.spark.sql.SparkSession, d: String)
      : Dataset[Multimodal.MediaRecord] = {
    import s.implicits._
    // ids-only rebalance before synth/decode — see
    // [[MediaDedup.mediaCorpus]] (the 30× StageProbe found one task
    // carrying 6.3 s of a 9.3 s q156 wall off the skewed scan)
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .filter((id: Long) => id % 10 == 0)
      .repartition(s.sparkContext.defaultParallelism)
      .flatMap { id =>
        require(id >= 0 && id < MediaDedup.CopyIdOffset,
          s"doc_id $id collides with the planted-copy id space")
        val vid = syntheticVideo(id)
        Seq(Multimodal.MediaRecord(id, "video/x-graft", vid),
          Multimodal.MediaRecord(id + MediaDedup.CopyIdOffset,
            "video/x-graft", transformedVideo(id, vid)))
      }
  }

  /** Cached (video_id, slot, fhash) over [[videoCorpus]] — the
    * per-(session, dir) hash-once discipline shared with
    * [[MediaDedup.imageHashes]].
    */
  def videoHashes(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame =
    MediaDedup.cachedHashes(s, d, "video")(hashVideos(videoCorpus(s, d)))

  /** q156 — near-duplicate video pairs over the synthetic video
    * corpus with planted transformed copies. Rows-only (frame
    * decoding isn't ANSI-SQL-expressible); gated (planted-transform
    * recall ≥ 0.8 over the (id, id+CopyIdOffset) pairs — Gates q156)
    * and spec-pinned (per-transform slot-match bounds +
    * unrelated-video baseline, VideoDedupSpec).
    */
  val videoDedup: QueryDef = QueryDef.rowsOnly(
    "q156_video_frame_dedup") { (s, d) =>
    videoDupPairs(videoHashes(s, d))
      .orderBy("video_a", "video_b")
  }

  // ---- persisted frame-hash index + incremental pass (q159) ----
  // q157's O(Δ) lifecycle carried to the slot-aware modality: the
  // standing side is (video_id, slot, fhash) — ~20 B per sampled
  // frame, ≤ MaxSampledFrames rows per video however long it runs —
  // and only the fresh batch is decoded and banded.

  def saveFrameIndex(hashes: DataFrame, dir: String): Unit =
    hashes.select("video_id", "slot", "fhash")
      .write.mode("overwrite").parquet(s"$dir/fhash")

  def loadFrameIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = s.read.parquet(s"$dir/fhash")

  private[mm] def corpusFrameStore(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    graft.StandingState(s, ("mm.frameStore", d)) {
      val dir =
        graft.StandingState.managedTempDir("graft_fhash").toString + "/idx"
      saveFrameIndex(videoHashes(s, d).filter(col("video_id") % 7 =!= 0),
        dir)
      dir
    }

  /** Near-duplicate video pairs of a NEW batch against a standing
    * frame-hash index — [[MediaDedup.incrementalNearDupPairs]]' O(Δ)
    * probe made slot-aware: only the batch's frames are banded
    * fresh; each bucket contributes batch-frames × bucket-size
    * combos; the per-pair `match_frac` aggregation is exactly
    * [[videoDupPairs]]' (slot counts from the standing index for the
    * corpus side). For any video pair touching the batch, EVERY one
    * of its candidate frame pairs has a batch-side frame, so the
    * output equals the full pass restricted to pairs touching the
    * batch — same determinism argument as q157's, gate-pinned at
    * pair-diff zero.
    */
  def incrementalVideoDupPairs(corpusHashes: DataFrame,
      batchHashes: DataFrame,
      minMatchFrac: Double = MinMatchFrac): DataFrame = {
    def banded(df: DataFrame) = withFrameBandKey(
      df.select(col("video_id"), col("slot"), col("fhash")))
    val bNew = banded(batchHashes)
    val bAll = banded(corpusHashes).withColumn("is_new", lit(false))
      .unionByName(bNew.withColumn("is_new", lit(true)))
    val a = bNew.select(col("band"), col("key"),
      col("video_id").as("ida"), col("slot").as("slot_ia"),
      col("fhash").as("ha"))
    val b = bAll.select(col("band"), col("key"),
      col("video_id").as("idb"), col("slot").as("slot_ib"),
      col("fhash").as("hb"), col("is_new"))
    val framePairs = a.join(b, Seq("band", "key"))
      // batch↔batch frame pairs appear in both orientations — keep
      // one; batch↔corpus appears only with the batch frame on the
      // probe side, either id ordering
      .filter(col("ida") =!= col("idb"))
      .filter(!col("is_new") || (col("ida") < col("idb")))
      .select(
        least(col("ida"), col("idb")).as("video_a"),
        greatest(col("ida"), col("idb")).as("video_b"),
        when(col("ida") < col("idb"), col("slot_ia"))
          .otherwise(col("slot_ib")).as("slot_a"),
        when(col("ida") < col("idb"), col("slot_ib"))
          .otherwise(col("slot_ia")).as("slot_b"),
        when(col("ida") < col("idb"), col("ha"))
          .otherwise(col("hb")).as("ha"),
        when(col("ida") < col("idb"), col("hb"))
          .otherwise(col("ha")).as("hb"))
      .groupBy("video_a", "slot_a", "video_b", "slot_b")
      .agg(first("ha").as("ha"), first("hb").as("hb"))
      .filter(expr("bit_count(ha ^ hb)") <= MediaDedup.MaxHamming)
    val slots = corpusHashes.select("video_id", "slot")
      .unionByName(batchHashes.select("video_id", "slot"))
      .groupBy("video_id").agg(count(lit(1)).as("slots"))
    framePairs.groupBy("video_a", "video_b")
      .agg(countDistinct("slot_a").as("matched_a"),
        countDistinct("slot_b").as("matched_b"))
      .join(slots.select(col("video_id").as("video_a"),
        col("slots").as("slots_a")), "video_a")
      .join(slots.select(col("video_id").as("video_b"),
        col("slots").as("slots_b")), "video_b")
      .withColumn("match_frac",
        greatest(col("matched_a") / col("slots_a"),
          col("matched_b") / col("slots_b")))
      .filter(col("match_frac") >= minMatchFrac)
      .select("video_a", "video_b", "matched_a", "matched_b",
        "slots_a", "slots_b", "match_frac")
  }

  /** q159 — incremental VIDEO near-dup: the 1-in-7 id slice of the
    * video corpus plays the fresh batch, the standing side is the
    * PERSISTED frame-hash index ([[corpusFrameStore]] — saved once
    * per session, loaded per query). Completes the incremental row
    * of the media lifecycle table for all three modalities.
    * Rows-only; the gate pins pair-for-pair equality with the full
    * q156 pass restricted to the batch (zero diff).
    */
  val incrementalVideoDedup: QueryDef = QueryDef.rowsOnly(
    "q159_incremental_video_dedup") { (s, d) =>
    incrementalVideoDupPairs(
      loadFrameIndex(s, corpusFrameStore(s, d)),
      videoHashes(s, d).filter(col("video_id") % 7 === 0))
      .orderBy("video_a", "video_b")
  }

  val defs: Seq[QueryDef] = Seq(videoDedup, incrementalVideoDedup)
}
