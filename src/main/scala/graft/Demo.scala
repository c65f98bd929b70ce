package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Library usage demo / manual drive harness: exercises the public
  * API surface (table loaders, vector expressions, queries) end-to-end.
  * `sbt "runMain graft.Demo [sfDir]"`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Scale.sessionBuilder("graft-demo", "4")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("ib"), col("embedding").as("vb"))
    val sims = a.crossJoin(b)
      .select(col("ia"), col("ib"),
        functions.VectorFunctions.cosine_sim(col("va"), col("vb")).as("sim"))
    println("cosine self-similarity sample (expect sim=1.0 on diagonal):")
    sims.filter(col("ia") === col("ib")).orderBy("ia").show(3)
    println("plan (expect WholeStageCodegen around the cross join + cosine):")
    sims.explain("formatted")

    // bounded top-K as a first-class aggregate: partial_top_k_agg in
    // the plan means a hot group ships ≤K rows per map partition
    val topOrders = Tables.orders(spark, dir)
      .groupBy("o_custkey")
      .agg(functions.TopKAgg.top_k_agg(
        col("o_orderkey"), col("o_totalprice"), 3).as("top3"))
    println(s"top_k_agg -> ${topOrders.count()} customers")
    topOrders.show(2, truncate = false)

    // partition-scoped upsert: second batch rewrites only the hash
    // buckets its keys land in
    import spark.implicits._
    val tbl = java.nio.file.Files
      .createTempDirectory("graft_demo_upsert").toString + "/t"
    streaming.StreamPipeline.upsertByKeyPartitioned(
      Seq((1L, "first"), (2L, "keep")).toDF("k", "v"), "k", tbl)
    streaming.StreamPipeline.upsertByKeyPartitioned(
      Seq((1L, "updated")).toDF("k", "v"), "k", tbl)
    println("partitioned upsert (k=1 updated in place, k=2 untouched):")
    spark.read.parquet(tbl).orderBy("k").show()

    // sketch tier: mergeable grouped quantiles (only k·log(n/k)
    // doubles per group cross the shuffle)
    val quant = Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(functions.QuantileSketch.kll_quantiles(
        col("l_extendedprice"), 256, Seq(0.5, 0.95)).as("p50_p95"))
    println("kll_quantiles per returnflag:")
    quant.orderBy("l_returnflag").show(3, truncate = false)

    // broadcast-bloom anti-membership: benchmark keys fold to one bit
    // array; the probe side filters without a join
    import functions.BloomFilters._
    val keyed = Tables.documents(spark, dir).select(col("doc_id"),
      array(xxhash64(col("text"))).as("ks"))
    val bloom = keyed.filter(col("doc_id") % 7 === 0)
      .agg(bloom_build(col("ks"), 1 << 16, 7).as("bf"))
    val flagged = keyed.crossJoin(broadcast(bloom))
      .filter(bloom_contains_any(col("bf"), col("ks"), 7))
    println(s"bloom flags ${flagged.count()} docs (exact texts of the 1-in-7 held-out set)")

    // sequence packing: fixed-token-budget training shards
    println("pack_shards sample (doc -> shard by running token count):")
    text.TextAnalysis.packShards.fn(spark, dir).show(3)

    // bounded-state heavy hitters: k counters per group however many
    // distinct terms flow through (partial_misragries in the plan)
    val hh = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("t"))
      .agg(functions.FrequencyAggregates.heavy_hitters(col("t"), 8)
        .as("top8"))
    println("heavy_hitters(term, 8) over the corpus token stream:")
    hh.show(1, truncate = false)

    // z-order layout: one codegen'd clustering key over two dimensions
    val z = Tables.events(spark, dir)
      .select(functions.LayoutFunctions.zorder_key(
        col("user_id").cast("int"),
        (col("event_id") % 200).cast("int")).as("zkey"))
    println(s"zorder_key spans ${z.agg(countDistinct(col("zkey"))).head.getLong(0)} distinct cells")

    // real JDK media decode: generated PNG round-trips through
    // javax.imageio with true raster dimensions
    val png = mm.Multimodal.decode(mm.Multimodal.MediaRecord(
      7L, "image/png", mm.Multimodal.syntheticPng(7L)))
    println(s"imageio decode: ${png.width}x${png.height} " +
      s"ch=${png.channels} decoded=${png.decoded}")

    // BPE: learn merges from the corpus word table, tokenize a word
    val merges = text.Bpe.learnMerges(
      text.Bpe.wordFreq(Tables.documents(spark, dir)), 16)
    val ranks = merges.map(m => (m.left, m.right) -> m.rank).toMap
    val sample = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) >= 8).head.getString(0)
    println(s"bpe: 16 merges learned; '$sample' -> " +
      text.Bpe.encodeWord(sample, ranks).mkString("[", "|", "]"))

    // deterministic bottom-k sampling aggregate: uniform per-group
    // sample, <=k entries per partition cross the shuffle
    val samp = Tables.documents(spark, dir).groupBy("lang")
      .agg(functions.BottomKAgg.bottom_k_agg(
        md5(col("doc_id").cast("string")), col("doc_id"), 3).as("sample"))
    println("bottom_k_agg(md5(id), id, 3) per lang:")
    samp.orderBy("lang").show(2, truncate = false)

    // MERGE INTO on plain parquet: clause conditions/assignments as
    // Column expressions over the t/s namespaces
    val mtbl = java.nio.file.Files
      .createTempDirectory("graft_demo_merge").toString + "/t"
    streaming.StreamPipeline.mergeInto(
      Seq((1L, "base", 10L), (2L, "old", 10L)).toDF("k", "v", "ts"),
      "k", mtbl, buckets = 8)
    streaming.StreamPipeline.mergeInto(
      Seq((2L, "new", 20L), (3L, "ins", 20L)).toDF("k", "v", "ts"),
      "k", mtbl,
      updateWhen = Some(col("s.ts") > col("t.ts")),
      updateSet = Map("v" -> col("s.v"), "ts" -> col("s.ts")),
      buckets = 8)
    println("mergeInto (k=2 updated under ts guard, k=3 inserted):")
    spark.read.parquet(mtbl).drop("__bucket").orderBy("k").show()

    // exact set-similarity join: prefix-filtered, zero recall loss
    val ss = dedup.SetSimJoin.allPairs(
      Tables.documents(spark, dir).filter(col("doc_id") % 4 === 0),
      "doc_id", "text")
    println(s"setsim allPairs (J>=0.6, exact) -> ${ss.count()} pairs")

    // graph tier: triangles + k-core on the co-purchase graph
    val edges = graph.Triangles.coPurchaseEdges(spark, dir)
      .localCheckpoint()
    println("triangle census (top clustering):")
    graph.Triangles.triangleStats(edges)
      .orderBy(desc("clustering"), asc("node")).show(3)
    val core = graph.KCore.kCore(edges, graph.KCore.adaptiveK(edges))
    println(s"k-core keeps ${core.count()} nodes")

    // blocked fuzzy match: thresholded levenshtein, never a cartesian
    val fz = ops.FuzzyJoin.blockedPairs(
      Tables.part(spark, dir), "p_partkey", "p_brand", "p_name", 2)
    println(s"fuzzy name pairs (brand-blocked, lev<=2) -> ${fz.count()}")

    // kNN self-join: constant-cell IVF, linear-ish all-to-all top-k
    val knn = search.Ann.knnJoin(Tables.embeddings(spark, dir))
    println("knnJoin top-5 sample:")
    knn.orderBy("query_id", "rank").show(5)

    // media dedup lifecycle: dHash an image + a JPEG re-encode of it
    // (byte-distinct, perceptually identical), band, verify exact
    val orig = mm.MediaDedup.syntheticPhoto(5L)
    val pair = mm.MediaDedup.nearDupPairs(mm.MediaDedup.hashMedia(Seq(
      mm.Multimodal.MediaRecord(1L, "image/png", orig),
      mm.Multimodal.MediaRecord(2L, "image/jpeg",
        mm.MediaDedup.transformFrame(0, orig)),
      mm.Multimodal.MediaRecord(3L, "image/png",
        mm.MediaDedup.syntheticPhoto(99L))).toDS()))
    println("media near-dup (re-encode caught, unrelated not):")
    pair.show()

    // and the same machinery over video frames: a trimmed copy still
    // matches every one of its sampled frames (max-fraction rule)
    val vid = mm.VideoDedup.syntheticVideo(10L)
    val vp = mm.VideoDedup.videoDupPairs(mm.VideoDedup.hashVideos(Seq(
      mm.Multimodal.MediaRecord(1L, "video/x-graft", vid),
      mm.Multimodal.MediaRecord(2L, "video/x-graft",
        mm.VideoDedup.transformedVideo(10L, vid))).toDS()))
    println("video frame-hash dedup (trimmed copy scores 1.0):")
    vp.show(truncate = false)

    // ---- the FULL media-dedup lifecycle, one narrative ----
    // crawl -> batch dedup -> persist the phash index -> incremental
    // batch against the standing index -> streaming probe -> cluster
    // + keeper decision. Images here; q154/q158 and the audio arm of
    // the stream run the identical wiring on the energy/ZCR contour.
    println("\n=== media lifecycle: crawl -> batch -> index -> " +
      "incremental -> stream -> keepers ===")
    def photo(id: Long) = mm.MediaDedup.syntheticPhoto(id)
    // 1. the backfill crawl: 8 originals plus a JPEG re-encode of #0
    //    already in the crawl (CDNs do this to you)
    val crawl = (0L to 7L).map(i =>
        mm.Multimodal.MediaRecord(i, "image/png", photo(i))) :+
      mm.Multimodal.MediaRecord(100L, "image/jpeg",
        mm.MediaDedup.transformFrame(0, photo(0L)))
    val crawlHashes = mm.MediaDedup.hashMedia(crawl.toDS())
      .localCheckpoint()
    // 2. batch dedup over the crawl (q152's pass)
    val batchPairs = mm.MediaDedup.nearDupPairs(crawlHashes)
      .localCheckpoint()
    println("batch pass: the in-crawl re-encode surfaces")
    batchPairs.show()
    // 3. persist the standing index: ids + 64-bit hashes, ~16 B/item
    //    — the crawl's rasters are gone from here on
    val mediaIdx = java.nio.file.Files
      .createTempDirectory("graft_demo_media").toString + "/idx"
    mm.MediaDedup.savePhashIndex(crawlHashes, mediaIdx)
    // 4. next day's incremental batch: a 2x upscale of #4 plus one
    //    genuinely new photo — only the batch is decoded; the
    //    standing side loads from disk (q157's pass)
    val incrBatch = Seq(
      mm.Multimodal.MediaRecord(200L, "image/png",
        mm.MediaDedup.transformFrame(1, photo(4L))),
      mm.Multimodal.MediaRecord(201L, "image/png", photo(55L))).toDS()
    val incrHashes = mm.MediaDedup.hashMedia(incrBatch).localCheckpoint()
    val incrPairs = mm.MediaDedup.incrementalNearDupPairs(
      mm.MediaDedup.loadPhashIndex(spark, mediaIdx), incrHashes)
      .localCheckpoint()
    println("incremental pass: the upscale pairs with standing #4, " +
      "the fresh photo stays clean")
    incrPairs.show()
    // ...and the batch joins the standing index behind a marker
    mm.MediaDedup.appendPhashBatch(mediaIdx, 1L, incrHashes, "demo")
    // 5. live uploads probe the stream (q152's hash, per-bucket ring
    //    state, exact in-stream Hamming verify): a brightness-shifted
    //    copy of #2 arrives minutes after its original
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val uploads =
      MemoryStream[(Long, String, Array[Byte], java.sql.Timestamp)](spark)
    val streamQ = streaming.MediaNearDup.mediaNearDupStream(
        uploads.toDF().toDF("doc_id", "mime", "media", "ts"),
        horizon = "10 minutes")
      .writeStream.format("memory").queryName("demo_media_stream")
      .outputMode("append").start()
    uploads.addData(
      (300L, "image/png", photo(2L),
        new java.sql.Timestamp(1000L * 60)),
      (301L, "image/png", photo(77L),
        new java.sql.Timestamp(1000L * 61)))
    streamQ.processAllAvailable()
    uploads.addData((302L, "image/png",
      mm.MediaDedup.transformFrame(2, photo(2L)),
      new java.sql.Timestamp(1000L * 120)))
    streamQ.processAllAvailable()
    val streamPairs = spark.table("demo_media_stream")
      .select("doc_a", "doc_b", "hamming").distinct().localCheckpoint()
    println("stream probe: the brightness-shifted upload hits the " +
      "in-horizon original")
    streamPairs.show()
    streamQ.stop()
    // 5b. the VIDEO arm of the same stream tier (q156's frame
    //     hashes; two chained stateful stages, per-pair state = two
    //     Long slot bitmasks): a TRIMMED copy of a video upload —
    //     byte-distinct container, first two frames cut — is caught
    //     in-stream, and the max-fraction rule scores it 1.0 (all of
    //     the shorter side's slots match). The operator sets two
    //     session streaming confs while its query runs and restores
    //     them at termination; the image query above is stopped, so
    //     the session is quiet as required.
    val vidUploads =
      MemoryStream[(Long, String, Array[Byte], java.sql.Timestamp)](spark)
    val vidQ = streaming.VideoNearDup.videoNearDupStream(
        vidUploads.toDF().toDF("doc_id", "mime", "media", "ts"),
        horizon = "10 minutes")
      .writeStream.format("memory").queryName("demo_video_stream")
      .outputMode("append").start()
    val origVid = mm.VideoDedup.syntheticVideo(40L)
    vidUploads.addData(
      (400L, "video/x-graft", origVid, new java.sql.Timestamp(1000L * 60)),
      (401L, "video/x-graft", mm.VideoDedup.syntheticVideo(41L),
        new java.sql.Timestamp(1000L * 61)))
    vidQ.processAllAvailable()
    val trimmedVid = mm.VideoDedup.encodeVideo(
      mm.VideoDedup.decodeVideoFrames(origVid).get.drop(2))
    vidUploads.addData((402L, "video/x-graft", trimmedVid,
      new java.sql.Timestamp(1000L * 120)))
    vidQ.processAllAvailable()
    println("video stream probe: the trimmed upload pairs with its " +
      "in-horizon original (fewer slots, all matching -> " +
      "match_frac 1.0); the unrelated video stays unpaired")
    spark.table("demo_video_stream")
      .select("video_a", "video_b", "matched_b", "slots_a", "slots_b",
        "match_frac").show()
    vidQ.stop()
    // 6. the decision surface: every pair source folds through
    //    hash-min connected components into cluster labels; the
    //    min-id member per cluster is the keeper (q155's pass) —
    //    filter is_keeper and the corpus is deduplicated
    val allPairs = batchPairs.select("doc_a", "doc_b")
      .union(incrPairs.select("doc_a", "doc_b"))
      .union(streamPairs.select("doc_a", "doc_b"))
    val allDocs = crawlHashes.select("doc_id")
      .union(incrHashes.select("doc_id"))
      .union(streamPairs.select(col("doc_a").as("doc_id")))
      .union(streamPairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val labels = dedup.Dedup.connectedComponents(allPairs)
    val keepers = allDocs
      .join(labels.select(col("id").as("doc_id"),
        col("label").as("cluster_id")), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
    println("keeper decision (one keeper per cluster; copies from " +
      "every lifecycle stage collapse onto their originals; an " +
      "unpaired live upload joins the standing index at its next " +
      "batch ingest):")
    keepers.orderBy("cluster_id", "doc_id").show(20)

    val flagship = SparkEntry.entry(spark)
    println(s"flagship entry() -> ${flagship.count()} rows")
    flagship.show(truncate = false)
    spark.stop()
  }
}
