package graft.streaming

import java.io.ByteArrayInputStream
import java.sql.Timestamp
import javax.imageio.ImageIO

import graft.mm.{MediaDedup, VideoDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** One exploded (band, key) row of a streamed video's sampled frame:
  * the frame's slot, its video's total sampled-slot count (known at
  * decode time — it rides with every row so the pair stage never
  * needs a lookup), and the frame hash.
  */
case class BandedFrame(band: Int, key: Long, videoId: Long, slot: Int,
    nslots: Int, fhash: Long, ts: Timestamp)

/** A frame-level hit: `slotB` of the later video collided with
  * `slotA` of the earlier one and verified within MaxHamming.
  */
case class FrameHit(videoA: Long, slotA: Int, nslotsA: Int,
    videoB: Long, slotB: Int, nslotsB: Int, ts: Timestamp)

/** A video near-dup emission: the pair crossed [[VideoDedup.MinMatchFrac]]
  * with `matchedA`/`matchedB` distinct slots matched out of
  * `slotsA`/`slotsB` at emission time.
  */
case class VideoDupHit(videoA: Long, videoB: Long, matchedA: Int,
    matchedB: Int, slotsA: Int, slotsB: Int, matchFrac: Double,
    ts: Timestamp)

/** Per-bucket frame ring state: newest-first
  * (videoId, slot, nslots, fhash, tsMillis).
  */
case class FrameBucket(members: Seq[(Long, Int, Int, Long, Long)])

/** Per-video-pair slot state: bitmasks of matched slots on each side
  * (MaxSampledFrames ≤ 16 ⇒ a Long each), whether the pair already
  * emitted, and the newest hit time (for eviction).
  */
case class PairSlots(maskA: Long, maskB: Long, emitted: Boolean,
    lastMs: Long)

/** Streaming frame-hash VIDEO near-dup — the r11 "slot-state design
  * note" built (closing the media lifecycle's last streaming gap):
  * the batch operator's per-pair score is `match_frac` over DISTINCT
  * matched slots, so a streaming variant needs per-pair slot state,
  * not [[MediaNearDup]]'s ring of scalars. The observation that makes
  * it cheap: a video contributes at most [[VideoDedup.MaxSampledFrames]]
  * = 16 slots, so each side's matched-slot set is ONE Long bitmask —
  * per-pair state is two Longs and a flag.
  *
  * Two stateful stages, both watermark-evicted:
  *   1. frame stage — [[MediaNearDup]]'s shape verbatim: each
  *      arriving video is decoded and frame-hashed ONCE
  *      (stride-sampled ≤ 16 slots; rasters never enter state), each
  *      sampled frame's banded keys ([[VideoDedup.frameBandLayout]],
  *      3×21 bits default) probe per-bucket rings of
  *      recent frames, collisions verify with exact Hamming
  *      in-stream and emit [[FrameHit]]s. The video's own slot count
  *      rides on every row, so the pair stage needs no side lookup.
  *   2. pair stage — keyed by (videoA, videoB): each hit ORs its
  *      slot bits into the pair's masks; the first time
  *      `max(|maskA|/slotsA, |maskB|/slotsB)` crosses
  *      [[VideoDedup.MinMatchFrac]] the pair EMITS (once — the state
  *      flag suppresses repeats; replay after a crash re-emits, the
  *      usual at-least-once contract).
  *
  * A TRIMMED copy still scores 1.0: every one of its (fewer) slots
  * matches, and the max-fraction rule takes the smaller side — the
  * batch operator's semantics carried exactly. Frame-level recall
  * inherits the banded pigeonhole contract; the slot-fraction bar
  * tolerates a minority of missed frames per pair, same as batch.
  *
  * State bounds: frame buckets evict at watermark + horizon (event
  * time) and ring at `bucketCap` (a meme-flood bucket degrades to
  * missing OLD frames only); pair state evicts at watermark +
  * horizon past its newest hit. Memory is one horizon of
  * (2 Longs + flag) per ACTIVE candidate pair plus one horizon of
  * 8-byte frame hashes, never payloads, never the stream's lifetime.
  */
object VideoNearDup {

  /** `media` columns: `doc_id: long`, `mime: string`, `media:
    * binary`, `ts: timestamp`. Returns a streaming DataFrame
    * `(video_a, video_b, matched_a, matched_b, slots_a, slots_b,
    * match_frac, ts)` — one row per pair crossing the bar (per
    * lineage; consumers dedup on the pair for exactly-once).
    * Non-video mimes and malformed containers drop out at the hash
    * stage.
    *
    * `maxHamming` is the pair-state pressure dial, and its curve is
    * measured (SWEEP_r13 `stream_hamming_dial`, at
    * 1×/10×): the bar gates which frame hits OPEN pair state (the
    * match-frac bar still gates emission), so tightening it prices
    * state, not output — until it starts missing real frames. At the
    * 10× corpus: bar 10 (default = the batch tier's
    * [[MediaDedup.MaxHamming]], preserving the emits-what-batch-emits
    * contract on arbitrary corpora) held 171,620 pair-state rows;
    * **bar 6 halved that (87,023) at pair-for-pair emission parity**
    * (4,999 = the batch ScaleSweep count, both scales); bar 4 cut
    * 3.3× but dropped 2 of 4,999 planted pairs (some upscale/
    * re-encode transforms exceed per-frame distance 4 on enough
    * slots to miss the frac bar). A deployment seeing pair-state
    * pressure should reach for 6 first.
    */
  def videoNearDupStream(media: DataFrame, horizon: String = "1 hour",
      bucketCap: Int = 64,
      maxHamming: Int = MediaDedup.MaxHamming,
      minMatchFrac: Double = VideoDedup.MinMatchFrac): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    // These two confs are SESSION-scoped, and a streaming DataFrame
    // is bound to its session, so the operator cannot isolate them
    // internally — it must mutate the caller's session. Refuse to do
    // that silently under other ACTIVE streams (whose semantics a
    // policy flip could change — e.g. a min-policy stream-stream
    // join would start dropping the slower input's lagging events);
    // callers with mixed streaming workloads start this operator in
    // a dedicated session (SparkSession.newSession()) and build the
    // source DataFrame there.
    require(spark.streams.active.isEmpty,
      "videoNearDupStream sets session-wide streaming confs " +
        "(multipleWatermarkPolicy=max, stateful-operator correctness " +
        "check off) and refuses to change them under other active " +
        "streaming queries; start it in a dedicated session " +
        "(SparkSession.newSession()) instead")
    // The mutation is UNDONE when this operator's query terminates:
    // a listener restores the prior values once the session has no
    // other active stream, so queries started afterwards see the
    // session they would have without this operator (both confs are
    // latched per query at START — the policy into the offset-log
    // metadata, the correctness check during initial planning — so
    // restoring never touches a query already running). The one
    // remaining caller obligation: start THIS query before starting
    // other streaming queries in the same session (they would latch
    // the mutated confs at start — the require above cannot see
    // queries that don't exist yet); mixed-workload sessions should
    // hand this operator a dedicated session instead.
    val CorrectnessKey =
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled"
    val PolicyKey = "spark.sql.streaming.multipleWatermarkPolicy"
    val priorCorrectness = spark.conf.getOption(CorrectnessKey)
    val priorPolicy = spark.conf.getOption(PolicyKey)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        // any-termination trigger (the listener cannot know which
        // query the caller started from the returned DataFrame);
        // restore only once the session is quiet so a restart of the
        // video query under the confs it needs is unaffected
        if (spark.streams.active.forall(_.runId.toString == e.runId.toString)) {
          def restore(k: String, v: Option[String]): Unit = v match {
            case Some(x) => spark.conf.set(k, x)
            case None => spark.conf.unset(k)
          }
          restore(CorrectnessKey, priorCorrectness)
          restore(PolicyKey, priorPolicy)
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // Spark's global-watermark correctness check pattern-matches ANY
    // stateful operator downstream of flatMapGroupsWithState and
    // refuses to start, because a downstream watermark could classify
    // the emitted rows late and discard them. This topology is safe
    // by construction: both stages share ONE horizon, a frame hit
    // carries the ts of a frame that just passed the frame stage's
    // lateness bar (ts ≥ max event time − horizon), and the pair
    // stage's watermark is at most (its own max hit ts − horizon) —
    // so no hit that stage 1 accepted can be late at stage 2. The
    // conf is the official escape hatch for exactly this
    // reasoned-safe case; it is per-session, so a session also
    // running OTHER chained-stateful queries that rely on the check
    // should start this stream in a dedicated session
    // (SparkSession.newSession()).
    spark.conf.set(
      "spark.sql.streaming.statefulOperator.checkCorrectness.enabled",
      "false")
    // Two EventTimeWatermark nodes live in this query (one per
    // stage). Under the default "min" combining policy the global
    // watermark is held back by the PAIR stage's, which only
    // advances while hits flow — a quiet hit stream would freeze
    // frame-bucket eviction forever. "max" lets the frame stage's
    // watermark (fed by every arriving video) drive progress; the
    // pair stage stays safe under it by the same shared-horizon
    // argument as above — a hit's ts is within one horizon of the
    // frame stream's max event time by construction.
    spark.conf.set("spark.sql.streaming.multipleWatermarkPolicy", "max")
    val horizonMs = NearDup.intervalMillis(horizon)

    val hashed = media.select(col("doc_id"), col("mime"), col("media"),
        col("ts"))
      .as[(Long, String, Array[Byte], Timestamp)]
      .mapPartitions { it =>
        ImageIO.setUseCache(false)
        it.flatMap { case (id, mime, bytes, ts) =>
          if (!mime.startsWith("video/")) Iterator.empty
          else VideoDedup.decodeVideoFrames(bytes) match {
            case None => Iterator.empty
            case Some(frames) =>
              val stride = math.max(1,
                (frames.length + VideoDedup.MaxSampledFrames - 1) /
                  VideoDedup.MaxSampledFrames)
              val slots = frames.indices.by(stride).flatMap { t =>
                val img =
                  try ImageIO.read(new ByteArrayInputStream(frames(t)))
                  catch { case _: Exception => null }
                if (img == null) None
                else Some((t / stride, MediaDedup.dHash(img)))
              }
              slots.iterator.map { case (slot, h) =>
                (id, slot, slots.length, h, ts)
              }
          }
        }
      }.toDF("video_id", "slot", "nslots", "fhash", "ts")

    // frame bucket keys under the shared [[VideoDedup.frameBandLayout]]
    // (3×21 default — same collision-pressure argument as the batch
    // path, and smaller per-bucket rings here)
    val banded = VideoDedup.withFrameBandKey(hashed)
      .withWatermark("ts", horizon)
      .select(col("band"), col("key"), col("video_id").as("videoId"),
        col("slot"), col("nslots"), col("fhash"), col("ts"))
      .as[BandedFrame]

    val frameHits = banded
      .groupByKey(d => (d.band, d.key))
      .flatMapGroupsWithState[FrameBucket, FrameHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: (Int, Long), batch: Iterator[BandedFrame],
         state: GroupState[FrameBucket]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var members = state.getOption.map(_.members).getOrElse(Seq.empty)
            val out = Seq.newBuilder[FrameHit]
            var maxTs = members.headOption.map(_._5).getOrElse(0L)
            batch.toSeq.sortBy(d => (d.ts.getTime, d.videoId, d.slot))
              .foreach { d =>
                members.foreach {
                  case (vidA, slotA, nslotsA, hashA, _) =>
                    if (vidA != d.videoId &&
                        java.lang.Long.bitCount(hashA ^ d.fhash)
                          <= maxHamming)
                      out += FrameHit(vidA, slotA, nslotsA,
                        d.videoId, d.slot, d.nslots, d.ts)
                }
                members = ((d.videoId, d.slot, d.nslots, d.fhash,
                  d.ts.getTime) +: members).take(bucketCap)
                maxTs = math.max(maxTs, d.ts.getTime)
              }
            state.update(FrameBucket(members))
            state.setTimeoutTimestamp(maxTs + horizonMs)
            out.result().iterator
          }
      }
      // multi-band hits of the same slot pair dedup in the pair
      // stage's bitmasks — no distinct needed between the stages

    frameHits
      // canonical orientation so (a, b) and (b, a) hits share state
      .map { h =>
        if (h.videoA < h.videoB) h
        else FrameHit(h.videoB, h.slotB, h.nslotsB,
          h.videoA, h.slotA, h.nslotsA, h.ts)
      }
      // the frame stage consumed the input watermark; the pair
      // stage's event-time timeout needs its own declaration on the
      // hit stream. (A processing-time timeout was tried first to
      // avoid the chained-watermark topology — it makes the engine
      // schedule continuous empty micro-batches to poll timeouts, a
      // busy-loop; event time triggers only on progress.)
      .withWatermark("ts", horizon)
      .groupByKey(h => (h.videoA, h.videoB))
      .flatMapGroupsWithState[PairSlots, VideoDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, Long), hits: Iterator[FrameHit],
         state: GroupState[PairSlots]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(PairSlots(0L, 0L,
              emitted = false, 0L))
            // fold the WHOLE trigger's hits before deciding, so the
            // emitted fraction is the full within-trigger value (the
            // batch operator's number when original and copy land in
            // one trigger); across triggers it is still the value at
            // crossing time — a lower bound on the eventual score
            var nsA = 0; var nsB = 0; var lastTs: Timestamp = null
            hits.foreach { h =>
              st = st.copy(
                maskA = st.maskA | (1L << (h.slotA & 63)),
                maskB = st.maskB | (1L << (h.slotB & 63)),
                lastMs = math.max(st.lastMs, h.ts.getTime))
              nsA = h.nslotsA; nsB = h.nslotsB
              if (lastTs == null || h.ts.getTime > lastTs.getTime)
                lastTs = h.ts
            }
            val ma = java.lang.Long.bitCount(st.maskA)
            val mb = java.lang.Long.bitCount(st.maskB)
            val frac = math.max(ma.toDouble / math.max(1, nsA),
              mb.toDouble / math.max(1, nsB))
            val out =
              if (!st.emitted && nsA > 0 && frac >= minMatchFrac) {
                st = st.copy(emitted = true)
                Iterator.single(VideoDupHit(key._1, key._2, ma, mb,
                  nsA, nsB, frac, lastTs))
              } else Iterator.empty
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(st.lastMs + horizonMs,
                state.getCurrentWatermarkMs() + 1))
            out
          }
      }
      .toDF("video_a", "video_b", "matched_a", "matched_b",
        "slots_a", "slots_b", "match_frac", "ts")
  }
}
