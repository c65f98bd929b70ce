package graft.mm

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual-hash image dedup — media as a first-class dedup citizen
  * next to the five text families (r9 verdict "What's missing #4"):
  * re-encoded, resized, or brightness-shifted copies of an image are
  * byte-distinct (exact dedup blind) but perceptually identical, and
  * a 100 TB multimodal crawl is FULL of exactly those (thumbnail
  * pipelines, CDN re-compressions, format migrations).
  *
  * The operator is the standard dHash recipe (difference hash — the
  * gradient-direction member of the aHash/dHash/pHash family): box-
  * downsample the luma raster to a (HashW+1)×HashH grid — the
  * downsample IS the resize-invariance, any input resolution lands on
  * the same grid — then emit one bit per horizontally-adjacent cell
  * pair (left < right). 64 bits; Hamming distance ≈ perceptual
  * distance. The downsample is an explicit box filter over exact
  * integer sums, NOT AWT's interpolating `getScaledInstance`, so the
  * hash is deterministic across JVMs/platforms.
  *
  * Scale shape (the [[graft.dedup.Dedup]] simhash-banding precedent):
  * hashing is one decode pass over the media scan (mapPartitions,
  * pixels never shuffle); each image then contributes [[Bands]]
  * (band_idx, band_key, doc_id) rows — 4 × ~20 B, ids only — and
  * candidates are the within-bucket pairs of an equi self-join on
  * (band_idx, band_key), NEVER an all-pairs comparison; by the
  * pigeonhole bound any pair within Hamming 64/[[Bands]] − 1 = 3 is
  * GUARANTEED a shared band, and transformed duplicates measure well
  * inside it (see MediaDedupSpec). A `groupBy(pair)` dedups multi-band
  * collisions at candidate cardinality, and the exact verify is one
  * codegen'd `bit_count(xor)` per candidate — no raster ever crosses
  * the wire.
  */
object MediaDedup {

  /** dHash grid: (HashW+1)×HashH luma cells → HashW·HashH = 64 bits. */
  val HashW = 8
  val HashH = 8

  /** LSH bands over the 64-bit hash: 4 bands × 16 bits. */
  val Bands = 4

  /** The wide 3×21 layout (the video path's): 32× the key space on
    * 3/4 the banded rows. Bit 63 is unbanded; the pigeonhole
    * guarantee is Hamming ≤ 2 banded bits (vs ≤ 3 under 4×16),
    * which still covers every planted transform (each measures ≤ 2
    * bits — MediaDedupSpec pins recall under BOTH layouts), and the
    * exact Hamming ≤ [[MaxHamming]] verify is layout-invariant.
    */
  val WideLayout: (Int, Int) = (3, 21)

  /** The legacy/oracle-scale 4×16 layout. */
  val NarrowLayout: (Int, Int) = (Bands, 64 / Bands)

  /** Corpus size (hashed items) above which the batch/incremental
    * candidate paths auto-select [[WideLayout]] — conf dial
    * `spark.graft.media.phashWideThresholdItems`. The r16 30× media
    * sweep measured 4×16's 2^16-buckets-per-band saturation
    * directly: 55k hashed images (10×) fine, 165k (30×) paid 19×
    * the 10× wall (every excess collision is a shuffled candidate
    * row plus a Hamming verify — the r12 q156 lesson at the image
    * tier's scale), and the r17 20× point (110k items) measured
    * already-saturating (see SWEEP_r17 band_threshold_pin), so the
    * default sits at the measured-safe 10× shoulder with ~1.5×
    * headroom. Auto-selection is the engine's standard measured-
    * cutover spelling (`exactPairLimit`, `cc.localSolveLimit`) —
    * a default plan must not die at crawl scale (r16 verdict #1).
    */
  val DefaultPhashWideThresholdItems = 80000L

  def phashWideThresholdItems(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.media.phashWideThresholdItems")
      .map(_.toLong).getOrElse(DefaultPhashWideThresholdItems)

  /** Conf-only band layout for the single-hash (image/audio)
    * candidate paths — the resolver for surfaces with NO plan-time
    * corpus count: the streaming topology (an unbounded stream's
    * candidate population is its horizon-bounded state, not a
    * countable corpus) honors the manual dial
    * `spark.graft.media.widePhashBands` and otherwise stays 4×16.
    * Batch/incremental paths resolve through the counting overload
    * below; a crawl-scale deployment that runs BOTH a backfill and
    * a stream sets the dial explicitly so the two mine the same
    * candidate space (StreamingSpec pins that parity).
    */
  def phashBandLayout(spark: org.apache.spark.sql.SparkSession)
      : (Int, Int) =
    if (spark.conf.getOption("spark.graft.media.widePhashBands")
        .exists(_.toBoolean)) WideLayout
    else NarrowLayout

  /** Count-aware band layout for the batch/incremental candidate
    * paths: the manual dial wins when set (either way — `false`
    * pins 4×16 at any scale, the escape hatch); otherwise the
    * layout is picked from the hashed-item count of the candidate
    * population (corpus, or corpus + batch on the incremental
    * paths — the UNION is the population, so the incremental ==
    * full-restricted identity can never split across the
    * threshold). `corpusItems` is by-name so the count job only
    * runs when the dial is unset — and callers pass counts of
    * already-cached hash frames or parquet-metadata counts, so the
    * resolution is one cheap job, never a fresh decode pass. The
    * replay oracle reads the RESOLVED layout from the Verify side
    * output, so either outcome replays cell-for-cell.
    */
  def phashBandLayout(spark: org.apache.spark.sql.SparkSession,
      corpusItems: => Long): (Int, Int) =
    spark.conf.getOption("spark.graft.media.widePhashBands") match {
      case Some(v) => if (v.toBoolean) WideLayout else NarrowLayout
      case None =>
        val n = corpusItems
        val wide = n > phashWideThresholdItems(spark)
        // observable resolution, once per (session, outcome): a
        // stream running next to an auto-upgraded batch needs the
        // dial set, and this line is how an operator learns that
        graft.StandingState(spark, ("mm.phashLayoutLogged", wide)) {
          System.err.println(s"[media] phash band layout auto-" +
            s"resolved ${if (wide) "wide 3x21" else "4x16"} " +
            s"(items=$n, threshold=${phashWideThresholdItems(spark)})")
        }
        if (wide) WideLayout else NarrowLayout
    }

  /** Band layout for STREAMING surfaces. An unbounded stream has no
    * plan-time corpus count (its candidate population is the
    * horizon-bounded state store), but a deployment running a stream
    * NEXT TO a batch backfill does have one: the standing phash
    * index the batch maintains ([[corpusPhashStore]] / q157's store,
    * already on disk). So: the manual dial wins when set (either
    * way); otherwise, when a standing index dir is known — the
    * `indexDir` argument, or conf `spark.graft.media.phashStoreDir`
    * — the layout resolves from its item count through the same
    * count-aware resolver as the batch paths, so a stream started
    * next to an auto-wide backfill mines the same candidate space
    * with no dial set (r17 verdict #3: the old conf-only fallback
    * silently left the stream narrow while the batch auto-upgraded).
    * With neither dial nor store, the legacy 4×16 stands — a
    * cold-start stream's state is bounded by the horizon, not the
    * corpus, so narrow is the measured-safe default there. A parquet
    * count on a ~16 B/item index is metadata-only — one cheap job at
    * stream start, never re-evaluated mid-stream (layout must be
    * stable across micro-batches; a dialed restart re-resolves).
    */
  def streamPhashBandLayout(spark: org.apache.spark.sql.SparkSession,
      indexDir: Option[String] = None): (Int, Int) =
    spark.conf.getOption("spark.graft.media.widePhashBands") match {
      case Some(v) => if (v.toBoolean) WideLayout else NarrowLayout
      case None =>
        indexDir.orElse(
            spark.conf.getOption("spark.graft.media.phashStoreDir")) match {
          case Some(dir) =>
            val p = new org.apache.hadoop.fs.Path(s"$dir/phash")
            val fs = p.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            if (fs.exists(p)) phashBandLayout(spark,
              loadPhashIndex(spark, dir).count())
            else {
              // a store dir configured but not yet built (stream
              // started before the first backfill): cold start —
              // resolve as an empty corpus, observably
              phashBandLayout(spark, 0L)
            }
          case None => phashBandLayout(spark)
        }
    }

  /** Candidate pairs at Hamming distance ≤ MaxHamming are duplicates.
    * Measured on the planted transforms (MediaDedupSpec): JPEG
    * re-encode ≤ 2 bits, 2× upscale ≤ 2, brightness +16 ≤ 2 — while
    * distinct synthetic photos sit near the 32-bit random baseline.
    */
  val MaxHamming = 10

  /** Deterministic 64-bit dHash of a decoded raster. */
  def dHash(img: BufferedImage): Long = {
    val gw = HashW + 1; val gh = HashH
    val w = img.getWidth; val h = img.getHeight
    val raster = img.getRaster
    val bands = raster.getNumBands
    // box filter on exact integer sums: cell (cx, cy) averages the
    // pixel block [cx*w/gw, (cx+1)*w/gw) × [cy*h/gh, (cy+1)*h/gh)
    val cell = Array.ofDim[Double](gw, gh)
    var cy = 0
    while (cy < gh) {
      val y0 = cy * h / gh; val y1 = math.max((cy + 1) * h / gh, y0 + 1)
      var cx = 0
      while (cx < gw) {
        val x0 = cx * w / gw; val x1 = math.max((cx + 1) * w / gw, x0 + 1)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1 && y < h) {
          var x = x0
          while (x < x1 && x < w) {
            // integer Rec.601 luma on the raw samples
            val r = raster.getSample(x, y, 0)
            val g = if (bands > 1) raster.getSample(x, y, 1) else r
            val b = if (bands > 2) raster.getSample(x, y, 2) else r
            sum += 299L * r + 587L * g + 114L * b
            n += 1
            x += 1
          }
          y += 1
        }
        cell(cx)(cy) = if (n > 0) sum.toDouble / n else 0.0
        cx += 1
      }
      cy += 1
    }
    var hash = 0L; var bit = 0
    cy = 0
    while (cy < gh) {
      var cx = 0
      while (cx < HashW) {
        if (cell(cx)(cy) < cell(cx + 1)(cy)) hash |= (1L << bit)
        bit += 1
        cx += 1
      }
      cy += 1
    }
    hash
  }

  /** (doc_id, phash) for every DECODED image in the media scan;
    * undecodable payloads and non-images drop out (they have no
    * raster to hash — audio dedups on its own features).
    */
  def hashMedia(media: Dataset[Multimodal.MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      ImageIO.setUseCache(false)
      it.flatMap { rec =>
        if (!rec.mime.startsWith("image/")) None
        else {
          val img =
            try ImageIO.read(new ByteArrayInputStream(rec.media))
            catch { case _: Exception => null }
          if (img == null) None else Some((rec.doc_id, dHash(img)))
        }
      }
    }.toDF("doc_id", "phash")
  }

  /** Near-duplicate pairs (doc_a < doc_b, hamming ≤ maxHamming) from
    * banded candidates — see the object doc for the shape. Works over
    * ANY 64-bit perceptual hash column (dHash, audio contour, video
    * slot hashes).
    *
    * Recall contract (pigeonhole, layout-dependent — the layout
    * comes from [[phashBandLayout]]): with B disjoint bands a pair
    * differing in ≤ B−1 BANDED bits always shares an untouched band,
    * so guaranteed recall is Hamming ≤ 3 under the default 4×16 and
    * ≤ 2 under the wide 3×21 dial (bit 63 unbanded there, as in the
    * video layout). From there to `maxHamming` a pair surfaces only
    * if some band happens to be unhit — best-effort, not guaranteed
    * (measured ≥ 0.98 on the planted transforms under both layouts,
    * MediaDedupSpec). The verify filter is still exact: no reported
    * pair ever exceeds `maxHamming`.
    */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int = MaxHamming)
      : DataFrame = {
    // layout from the candidate-population size (callers hand in
    // cached hash frames, so the count is one cheap job); the
    // manual dial short-circuits the count entirely
    val (bands, bandBits) =
      phashBandLayout(hashes.sparkSession, hashes.count())
    val banded = hashes.select(col("doc_id"), col("phash"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("key",
        expr(s"shiftrightunsigned(phash, band * $bandBits)")
          .bitwiseAND(lit((1L << bandBits) - 1)))
    // aliases of the one banded plan → ReuseExchange bands and
    // shuffles the hash table once, not once per join side (the
    // q124 lesson; the hash table is usually served from cache, so
    // the saved work here is the duplicate explode + shuffle-write)
    banded.as("p")
      .join(banded.as("q"), col("p.band") === col("q.band") &&
        col("p.key") === col("q.key"))
      .filter(col("p.doc_id") < col("q.doc_id"))
      .select(col("p.doc_id").as("doc_a"), col("q.doc_id").as("doc_b"),
        col("p.phash").as("ha"), col("q.phash").as("hb"))
      // multi-band collisions dedup at candidate cardinality
      .groupBy("doc_a", "doc_b").agg(first("ha").as("ha"),
        first("hb").as("hb"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(ha ^ hb)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-duplicate pairs of a NEW media batch against a standing
    * hashed corpus — the O(Δ) ingest path for media dedup (the
    * q75/q134 incremental discipline carried to perceptual hashes):
    * only the batch is decoded and banded fresh; the corpus side is
    * the persisted (doc_id, phash) index (~16 B/item —
    * [[loadPhashIndex]] over a [[savePhashIndex]]/[[appendPhashBatch]]
    * store, which is exactly what q157 serves from),
    * and the bucket join is batch-bands × all-bands, so each bucket
    * contributes (batch members × bucket size) combos instead of
    * size². Emits batch↔corpus and batch↔batch pairs only — by
    * construction EXACTLY the full pass restricted to pairs touching
    * the batch (banding is deterministic; the q157 gate measures the
    * pair diff at zero).
    */
  def incrementalNearDupPairs(corpusHashes: DataFrame,
      batchHashes: DataFrame, maxHamming: Int = MaxHamming): DataFrame = {
    // layout from corpus + batch — the union IS the candidate
    // population, and counting it (not just the standing side)
    // keeps this path on the SAME layout the full pass over
    // corpus ∪ batch resolves, so the incremental == full-restricted
    // identity (the q157/q158 gate) cannot split across the
    // auto-cutover threshold
    val (bands, bandBits) = phashBandLayout(corpusHashes.sparkSession,
      corpusHashes.count() + batchHashes.count())
    def banded(df: DataFrame) =
      df.select(col("doc_id"), col("phash"),
          explode(sequence(lit(0), lit(bands - 1))).as("band"))
        .withColumn("key",
          expr(s"shiftrightunsigned(phash, band * $bandBits)")
            .bitwiseAND(lit((1L << bandBits) - 1)))
    val bNew = banded(batchHashes)
    val bAll = banded(corpusHashes).withColumn("is_new", lit(false))
      .unionByName(bNew.withColumn("is_new", lit(true)))
    val a = bNew.select(col("band"), col("key"),
      col("doc_id").as("ida"), col("phash").as("ha"))
    val b = bAll.select(col("band"), col("key"),
      col("doc_id").as("idb"), col("phash").as("hb"), col("is_new"))
    a.join(b, Seq("band", "key"))
      // batch↔batch pairs appear in both orientations (both sides in
      // the probe table) — keep one; batch↔corpus appears only with
      // the batch doc on the probe side, either ordering
      .filter(col("ida") =!= col("idb"))
      .filter(!col("is_new") || (col("ida") < col("idb")))
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"),
        col("ha"), col("hb"))
      .groupBy("doc_a", "doc_b").agg(first("ha").as("ha"),
        first("hb").as("hb"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(ha ^ hb)").cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ---- persisted phash index store ----
  // The standing side of incremental media dedup as an actual store,
  // not a recomputation: ~16 B/item parquet, appended per ingest
  // batch behind the same batch-id idempotency marker discipline as
  // the vector store ([[graft.search.Pq.ingestBatch]] — replay
  // within a checkpoint lineage is a no-op; a fresh lineage reusing
  // an id appends, so recovery duplicates at worst, never drops).

  def savePhashIndex(hashes: DataFrame, dir: String): Unit =
    hashes.select("doc_id", "phash")
      .write.mode("overwrite").parquet(s"$dir/phash")

  def loadPhashIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = s.read.parquet(s"$dir/phash")

  /** Append one hashed ingest batch to a standing phash store,
    * guarded by a run-namespaced batch-id marker.
    */
  def appendPhashBatch(dir: String, batchId: Long, hashes: DataFrame,
      runNs: String = "manual"): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(
      hashes.sparkSession.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(
      s"$dir/_ingest_batches/${runNs}_$batchId")
    if (fs.exists(marker)) return
    hashes.select("doc_id", "phash")
      .write.mode("append").parquet(s"$dir/phash")
    fs.mkdirs(marker.getParent)
    fs.create(marker, false).close()
  }

  // Store-once per (session, dir, modality): q157/q158 serve their
  // corpus side from the PERSISTED index (the deployment shape — the
  // standing side is an index on disk, not a recomputation), built
  // once per session under a managed temp dir like Ann.cachedIndex's
  // parquet form. The store layout is modality-blind (any 64-bit
  // perceptual hash), so one lifecycle serves every modality.
  private[mm] def corpusPhashStore(s: org.apache.spark.sql.SparkSession,
      d: String, modality: String = "image"): String =
    graft.StandingState(s, ("mm.phashStore", d, modality)) {
      val dir =
        graft.StandingState.managedTempDir("graft_phash").toString + "/idx"
      val hashes = modality match {
        case "audio" => audioHashes(s, d)
        case _ => imageHashes(s, d)
      }
      savePhashIndex(hashes.filter(col("doc_id") % 7 =!= 0), dir)
      dir
    }

  /** q157 — incremental media near-dup: the 1-in-7 slice of the
    * image corpus stands in for a newly-crawled batch; the standing
    * side is served from the PERSISTED phash index
    * ([[corpusPhashStore]] — saved once per session, loaded per
    * query, the deployment shape). Rows-only; the gate pins
    * pair-for-pair equality with the full q152 pass restricted to
    * the batch (zero diff — q75's incremental==full contract).
    */
  val incrementalMediaDedup: QueryDef = QueryDef.rowsOnly(
    "q157_incremental_media_dedup") { (s, d) =>
    incrementalNearDupPairs(
      loadPhashIndex(s, corpusPhashStore(s, d)),
      imageHashes(s, d).filter(col("doc_id") % 7 === 0))
      .orderBy("doc_a", "doc_b")
  }

  /** q158 — incremental AUDIO near-dup: q157's lifecycle verbatim on
    * the q154 fingerprints ([[incrementalNearDupPairs]] and the
    * persisted store are generic over any 64-bit perceptual hash, so
    * this is wiring, not new machinery): the 1-in-7 id slice of the
    * audio corpus plays the fresh batch, the standing side is the
    * persisted audio phash index. Rows-only; the gate pins
    * pair-for-pair equality with the full q154 pass restricted to
    * the batch (zero diff).
    */
  val incrementalAudioDedup: QueryDef = QueryDef.rowsOnly(
    "q158_incremental_audio_dedup") { (s, d) =>
    incrementalNearDupPairs(
      loadPhashIndex(s, corpusPhashStore(s, d, "audio")),
      audioHashes(s, d).filter(col("doc_id") % 7 === 0))
      .orderBy("doc_a", "doc_b")
  }

  // ---- deterministic photo-like fixture + transforms ----
  // Low-frequency content (smooth gradients + id-keyed rectangles):
  // transform-stable under the box downsample, unlike q26's aliased
  // sawtooth texture, and id-distinct enough that unrelated photos
  // sit near the random 32-bit Hamming baseline.

  /** Deterministic 64×64 "photo": a sum of three id-seeded
    * low-frequency sinusoids per channel. Low frequency makes the
    * content transform-stable under the box downsample (the property
    * a real photograph has and an aliased texture lacks); the
    * id-seeded frequencies/phases decorrelate photos, so unrelated
    * pairs sit near the random 32-bit Hamming baseline (measured in
    * MediaDedupSpec) instead of sharing gradient-direction bits.
    * Amplitude keeps peak luma ≤ 239 so the +16 brightness transform
    * never clamps (a clamp-free shift leaves every dHash difference
    * sign intact — the invariance the hash family advertises).
    */
  def syntheticPhoto(id: Long): Array[Byte] = {
    val w = 64; val h = 64
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var s = id * 0x9E3779B97F4A7C15L + 0x85EBCA6BL
    def next(): Long = { // splitmix64
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    // 3 waves: frequency 1..4 cycles per axis, arbitrary phase
    val waves = Array.fill(3) {
      val r = next()
      (1 + (r & 3).toInt, 1 + ((r >> 2) & 3).toInt,
        ((r >> 4) & 0xFFFF) / 65536.0 * 2 * math.Pi)
    }
    val chanPhase = Array(0.0, 2.1, 4.2)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var rgb = 0
        var c = 0
        while (c < 3) {
          var v = 0.0
          var k = 0
          while (k < 3) {
            val (fx, fy, ph) = waves(k)
            v += math.sin(2 * math.Pi * (fx * x.toDouble / w +
              fy * y.toDouble / h) + ph + chanPhase(c))
            k += 1
          }
          // v in [-3, 3] → [89, 239]: headroom for +16, floor > 80
          rgb = (rgb << 8) | (164 + (v * 25)).toInt.max(0).min(255)
          c += 1
        }
        img.setRGB(x, y, rgb)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The planted transformed duplicate of a photo: cycle JPEG
    * re-encode / 2× box upscale / brightness shift by id — the three
    * byte-breaking, perception-preserving edits a crawl actually
    * contains.
    */
  def transformedCopy(id: Long, png: Array[Byte]): Array[Byte] =
    transformFrame(((id / 10) % 3).toInt, png)

  /** One raster transform by kind: 0 = lossy JPEG re-encode, 1 = 2×
    * box upscale, 2 = +16 brightness. Shared by [[transformedCopy]]
    * and [[VideoDedup]]'s per-frame video transforms.
    */
  def transformFrame(kind: Int, png: Array[Byte]): Array[Byte] = {
    val img = ImageIO.read(new ByteArrayInputStream(png))
    val out = kind match {
      case 0 => // lossy re-encode
        val bos = new ByteArrayOutputStream()
        ImageIO.write(img, "jpg", bos)
        return bos.toByteArray
      case 1 => // 2× upscale, box replication
        val up = new BufferedImage(img.getWidth * 2, img.getHeight * 2,
          BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < up.getHeight) {
          var x = 0
          while (x < up.getWidth) {
            up.setRGB(x, y, img.getRGB(x / 2, y / 2))
            x += 1
          }
          y += 1
        }
        up
      case _ => // +16 brightness, clamped
        val br = new BufferedImage(img.getWidth, img.getHeight,
          BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < br.getHeight) {
          var x = 0
          while (x < br.getWidth) {
            val p = img.getRGB(x, y)
            def c(v: Int) = math.min(v + 16, 255)
            br.setRGB(x, y, (c((p >> 16) & 0xFF) << 16) |
              (c((p >> 8) & 0xFF) << 8) | c(p & 0xFF))
            x += 1
          }
          y += 1
        }
        br
    }
    val bos = new ByteArrayOutputStream()
    ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Offset separating planted-copy ids from original ids. Far above
    * any sweep scale (2^40 ≈ 1.1e12 docs would be needed to collide);
    * the corpus builders assert non-overlap so a collision would fail
    * loudly instead of corrupting the recall gates and q155's min-id
    * keeper logic.
    */
  val CopyIdOffset = 1L << 40

  /** Namespace offset separating audio node ids from image node ids
    * inside q155's shared cluster graph. Pairs are mined per modality
    * so no edge can cross the namespaces; the offset only keeps the
    * id spaces disjoint in the unioned graph. Above CopyIdOffset
    * so `audio original + CopyIdOffset < AudioNsOffset` never holds —
    * i.e. image ids (with copies) and audio ids (with copies) occupy
    * [0, 2^41) and [2^41, 2^42) respectively; video ids (with copies)
    * take [2^42, 2^42 + 2^41) via [[VideoNsOffset]]. All three
    * namespaces reduce to the original id with one `% AudioNsOffset`
    * (the offsets are multiples of 2^41 and in-namespace ids stay
    * below 2^41).
    */
  val AudioNsOffset = 1L << 41

  /** Video's q155 namespace — see [[AudioNsOffset]]. */
  val VideoNsOffset = 1L << 42

  private def assertIdHeadroom(maxId: Long): Unit =
    require(maxId >= 0 && maxId < CopyIdOffset,
      s"doc_id $maxId would collide with the planted-copy id space " +
        s"(CopyIdOffset=$CopyIdOffset); raise CopyIdOffset")

  /** The q152 media corpus: one photo per document plus a transformed
    * copy for every 10th doc — shared by the query, its gate, and the
    * spec so "planted" means the same pairs everywhere.
    */
  def mediaCorpus(s: org.apache.spark.sql.SparkSession, d: String)
      : Dataset[Multimodal.MediaRecord] = {
    import s.implicits._
    // Repartition the ids-only frame BEFORE the synth/decode flatMap
    // (r17, StageProbe finding at 30×): the documents scan can land
    // nearly all rows in one input split (the 30× sweep dir did —
    // one task carried 3.5 s of a 4.9 s q152 wall at skew 234), and
    // both the decode pass AND the hash cache built from it inherit
    // that skew — every warm scan then funnels through one task.
    // Shuffling longs is ~8 B/row; decode is orders of magnitude
    // heavier, so the rebalance is always worth it.
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .flatMap { id =>
        assertIdHeadroom(id)
        val png = syntheticPhoto(id)
        val orig = Multimodal.MediaRecord(id, "image/png", png)
        if (id % 10 == 0)
          Seq(orig, Multimodal.MediaRecord(id + CopyIdOffset,
            if ((id / 10) % 3 == 0) "image/jpeg" else "image/png",
            transformedCopy(id, png)))
        else Seq(orig)
      }
  }

  // Hash-once per (session, dir, modality): q152/q154 mine pairs and
  // q155 folds BOTH modalities' pairs into clusters, so a composed
  // media-dedup pass pays the decode+hash scan once per modality, not
  // once per consuming query — the [[graft.search.Ann.cachedIndex]] /
  // [[graft.dedup.Dedup.clusterLabels]] compute-once discipline. The
  // cached frame is ids+hashes only (~16 B/doc); rasters/PCM never
  // outlive the scan.
  private[mm] def cachedHashes(s: org.apache.spark.sql.SparkSession,
      d: String, modality: String)(build: => DataFrame): DataFrame =
    graft.StandingState(s, ("mm.hashes", d, modality)) {
      val out = build.cache()
      out.count()
      out
    }

  /** Cached (doc_id, phash) over [[mediaCorpus]]. */
  def imageHashes(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame = cachedHashes(s, d, "image")(hashMedia(mediaCorpus(s, d)))

  /** Cached (doc_id, phash) over [[audioCorpus]]. */
  def audioHashes(s: org.apache.spark.sql.SparkSession, d: String)
      : DataFrame = cachedHashes(s, d, "audio")(hashAudio(audioCorpus(s, d)))

  /** q152 — perceptual near-duplicate image pairs over the synthetic
    * photo corpus with planted transformed copies. Rows-only (pixel
    * decoding isn't ANSI-SQL-expressible); the gate measures planted
    * recall ≥ 0.8 and MediaDedupSpec pins per-transform Hamming
    * bounds and the non-duplicate baseline.
    */
  val mediaDedup: QueryDef = QueryDef.rowsOnly(
    "q152_media_perceptual_dedup") { (s, d) =>
    nearDupPairs(imageHashes(s, d))
      .orderBy("doc_a", "doc_b")
  }

  // ---- audio fingerprint (q154) ----

  /** Analysis windows for [[audioHash]]: 33 windows → 32 adjacent
    * pairs × 2 signal bits (energy delta, zero-crossing delta) = the
    * 64-bit fingerprint.
    */
  val AudioWindows = 33

  /** 64-bit perceptual fingerprint of a PCM payload — the audio
    * member of the aHash/dHash family (the energy/ZCR-contour shape
    * of an acoustic fingerprint, not a byte hash): mono-mix, split
    * the stream into [[AudioWindows]] equal windows, and emit one bit
    * per adjacent-window ENERGY delta and one per ZERO-CROSSING-RATE
    * delta. Both signals are relative, so the fingerprint is
    * invariant to amplitude scaling and container/endianness
    * re-encodes, and degrades gracefully under requantization — the
    * byte-breaking, perception-preserving edits an audio crawl
    * contains. 16-bit samples normalize to the 8-bit scale so a
    * 16→8-bit requantized copy measures against the same contour.
    */
  def audioHash(bytes: Array[Byte]): Option[Long] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = ais.getFormat
        val ch = fmt.getChannels
        val bits = fmt.getSampleSizeInBits
        if (bits != 16 && bits != 8) return None
        // 8-bit PCM comes in both conventions (WAV: unsigned, AIFF:
        // signed) — center per the stream's declared encoding, or the
        // contour signs scramble
        val signed8 = fmt.getEncoding ==
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
        val frameLen = ais.getFrameLength
        if (frameLen < AudioWindows || frameLen > (1 << 24)) return None
        val data = ais.readAllBytes()
        val frames = frameLen.toInt
        val mono = new Array[Double](frames)
        var f = 0
        while (f < frames) {
          var c = 0; var s = 0.0
          while (c < ch) {
            val idx = f * ch + c
            val v =
              if (bits == 8)
                (if (signed8) data(idx).toInt
                 else (data(idx) & 0xFF) - 128).toDouble
              else {
                val off = idx * 2
                val x =
                  if (fmt.isBigEndian)
                    (data(off) << 8) | (data(off + 1) & 0xFF)
                  else (data(off + 1) << 8) | (data(off) & 0xFF)
                x.toDouble / 256.0
              }
            s += v; c += 1
          }
          mono(f) = s / ch; f += 1
        }
        val wlen = frames / AudioWindows
        val energy = new Array[Double](AudioWindows)
        val zcr = new Array[Int](AudioWindows)
        var w = 0
        while (w < AudioWindows) {
          var i = w * wlen; val end = i + wlen
          var e = 0.0; var z = 0; var prev = 0.0
          while (i < end) {
            val v = mono(i)
            e += v * v
            if (i > w * wlen && (v > 0) != (prev > 0)) z += 1
            prev = v; i += 1
          }
          energy(w) = e; zcr(w) = z; w += 1
        }
        var h = 0L; var b = 0
        w = 0
        while (w < AudioWindows - 1) {
          if (energy(w + 1) > energy(w)) h |= (1L << b)
          b += 1
          if (zcr(w + 1) > zcr(w)) h |= (1L << b)
          b += 1
          w += 1
        }
        Some(h)
      } finally ais.close()
    } catch { case _: Exception => None }

  /** (doc_id, phash) for every decodable PCM payload in the media
    * scan — the audio analogue of [[hashMedia]], feeding the SAME
    * banded pipeline ([[nearDupPairs]] is generic over any 64-bit
    * perceptual hash).
    */
  def hashAudio(media: Dataset[Multimodal.MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { rec =>
        if (!rec.mime.startsWith("audio/")) None
        else audioHash(rec.media).map((rec.doc_id, _))
      }
    }.toDF("doc_id", "phash")
  }

  /** Deterministic synthetic tone: [[AudioWindows]]·64 frames of
    * 8 kHz mono 16-bit PCM, each analysis window at an id-seeded
    * amplitude level and square-ish frequency — per-window energy
    * and ZCR contours decorrelate across ids while staying exactly
    * preserved under the planted transforms.
    */
  def syntheticTone(id: Long): Array[Byte] = {
    val frames = AudioWindows * 64
    var s = id * 0x9E3779B97F4A7C15L + 0xC2B2AE35L
    def next(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    val amp = Array.fill(AudioWindows)(1000 + (next() & 0x3FFF).toInt)
    val per = Array.fill(AudioWindows)(4 + 4 * (next() & 7).toInt)
    val data = new Array[Byte](frames * 2)
    var f = 0
    while (f < frames) {
      val w = math.min(f / 64, AudioWindows - 1)
      // square wave: period per(w) frames, amplitude amp(w)
      val v = (if ((f / (per(w) / 2)) % 2 == 0) amp(w) else -amp(w)).toShort
      data(2 * f) = (v & 0xFF).toByte
      data(2 * f + 1) = ((v >> 8) & 0xFF).toByte
      f += 1
    }
    val afmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), afmt, frames.toLong)
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** The planted transformed duplicate of a tone: cycle 0.5×
    * amplitude scale / AIFF re-encode (big-endian container) /
    * 16→8-bit requantization by id — byte-breaking,
    * contour-preserving.
    */
  def transformedTone(id: Long, wav: Array[Byte]): Array[Byte] = {
    import javax.sound.sampled._
    val ais = AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(wav))
    val fmt = ais.getFormat
    val frames = ais.getFrameLength.toInt
    val data = ais.readAllBytes()
    ais.close()
    def sample(i: Int): Int =
      ((data(2 * i + 1) << 8) | (data(2 * i) & 0xFF))
    val bos = new ByteArrayOutputStream()
    (id / 10) % 3 match {
      case 0 => // halve the amplitude: energy order + ZCR exactly kept
        val out = new Array[Byte](data.length)
        var i = 0
        while (i < frames) {
          val v = (sample(i) / 2).toShort
          out(2 * i) = (v & 0xFF).toByte
          out(2 * i + 1) = ((v >> 8) & 0xFF).toByte
          i += 1
        }
        AudioSystem.write(new AudioInputStream(
          new java.io.ByteArrayInputStream(out), fmt, frames.toLong),
          AudioFileFormat.Type.WAVE, bos)
      case 1 => // AIFF re-encode: big-endian container, same samples
        val be = new AudioFormat(8000f, 16, 1, true, true)
        val out = new Array[Byte](data.length)
        var i = 0
        while (i < frames) {
          out(2 * i) = data(2 * i + 1); out(2 * i + 1) = data(2 * i)
          i += 1
        }
        AudioSystem.write(new AudioInputStream(
          new java.io.ByteArrayInputStream(out), be, frames.toLong),
          AudioFileFormat.Type.AIFF, bos)
      case _ => // 16→8-bit requantization (WAV 8-bit is UNSIGNED —
        // declare it so, with matching offset-binary samples; a
        // signed declaration would make the writer XOR 0x80 on top
        // of our +128 offset and scramble every contour sign)
        val fmt8 = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED,
          8000f, 8, 1, 1, 8000f, false)
        val out = new Array[Byte](frames)
        var i = 0
        while (i < frames) {
          out(i) = ((sample(i) >> 8) + 128).toByte
          i += 1
        }
        AudioSystem.write(new AudioInputStream(
          new java.io.ByteArrayInputStream(out), fmt8, frames.toLong),
          AudioFileFormat.Type.WAVE, bos)
    }
    bos.toByteArray
  }

  /** The q154 audio corpus: one tone per document plus a transformed
    * copy for every 10th doc — the audio mirror of [[mediaCorpus]].
    */
  def audioCorpus(s: org.apache.spark.sql.SparkSession, d: String)
      : Dataset[Multimodal.MediaRecord] = {
    import s.implicits._
    // ids-only rebalance before synth/decode — see [[mediaCorpus]]
    Tables.documents(s, d).select(col("doc_id")).as[Long]
      .repartition(s.sparkContext.defaultParallelism)
      .flatMap { id =>
        assertIdHeadroom(id)
        val wav = syntheticTone(id)
        val orig = Multimodal.MediaRecord(id, "audio/wav", wav)
        if (id % 10 == 0)
          Seq(orig, Multimodal.MediaRecord(id + CopyIdOffset,
            if ((id / 10) % 3 == 1) "audio/aiff" else "audio/wav",
            transformedTone(id, wav)))
        else Seq(orig)
      }
  }

  /** q154 — perceptual near-duplicate AUDIO pairs: [[audioHash]]
    * fingerprints through the same banded pipeline as q152. Media
    * dedup now covers both raster and PCM modalities with one
    * candidate machinery. Rows-only; gated (planted-transform recall
    * ≥ 0.8 over the (id, id+CopyIdOffset) pairs — Gates q154) and
    * spec-pinned (per-transform Hamming bounds + unrelated-tone
    * baseline, MediaDedupSpec).
    */
  val audioDedup: QueryDef = QueryDef.rowsOnly(
    "q154_audio_perceptual_dedup") { (s, d) =>
    nearDupPairs(audioHashes(s, d))
      .orderBy("doc_a", "doc_b")
  }

  /** q155 — media duplicate CLUSTERS across ALL THREE modalities:
    * q152's image pairs, q154's audio pairs, and q156's video pairs
    * (node ids disjoint via [[AudioNsOffset]]/[[VideoNsOffset]] — no
    * edge can cross modalities, the offsets only keep the unioned
    * graph's id spaces apart) fold through the standard hash-min
    * connected components
    * ([[graft.dedup.Dedup.connectedComponents]] — the q49 machinery)
    * into cluster labels with a min-id keeper per cluster — the
    * decision surface a dedup pass actually consumes (drop
    * non-keepers), mirroring text's q49 for media. Every hashed media
    * doc appears (singletons keep themselves, q49's coverage
    * contract); output ids are back in each modality's own space with
    * an explicit `modality` column. Rows-only; gated (exactly one
    * min-id keeper per cluster, full coverage, planted copies of ALL
    * modalities cluster with their originals at ≥ 0.8 — Gates q155)
    * and spec-pinned (MediaDedupSpec cluster-structure case).
    */
  val mediaDupClusters: QueryDef = QueryDef.rowsOnly(
    "q155_media_dup_clusters") { (s, d) =>
    val imgPairs = nearDupPairs(imageHashes(s, d))
      .select(col("doc_a"), col("doc_b"))
    val audPairs = nearDupPairs(audioHashes(s, d))
      .select((col("doc_a") + AudioNsOffset).as("doc_a"),
        (col("doc_b") + AudioNsOffset).as("doc_b"))
    val vidPairs = VideoDedup.videoDupPairs(VideoDedup.videoHashes(s, d))
      .select((col("video_a") + VideoNsOffset).as("doc_a"),
        (col("video_b") + VideoNsOffset).as("doc_b"))
    val nodes = imageHashes(s, d).select(col("doc_id"))
      .union(audioHashes(s, d)
        .select((col("doc_id") + AudioNsOffset).as("doc_id")))
      .union(VideoDedup.videoHashes(s, d)
        .select((col("video_id") + VideoNsOffset).as("doc_id")).distinct())
    val labels = graft.dedup.Dedup.connectedComponents(
      imgPairs.union(audPairs).union(vidPairs))
    nodes
      .join(labels.select(col("id").as("doc_id"),
        col("label").as("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .select(
        when(col("doc_id") >= VideoNsOffset, "video")
          .when(col("doc_id") >= AudioNsOffset, "audio")
          .otherwise("image").as("modality"),
        (col("doc_id") % AudioNsOffset).as("doc_id"),
        (col("cluster_id") % AudioNsOffset).as("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("modality", "doc_id")
  }

  val defs: Seq[QueryDef] =
    Seq(mediaDedup, audioDedup, mediaDupClusters, incrementalMediaDedup,
      incrementalAudioDedup)
}
