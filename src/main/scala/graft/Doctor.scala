package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One-command operability check (r15 verdict stretch item): prints
  * the resolved `spark.graft.*` conf dials, testdata presence for
  * the standard scale dirs, and runs one smoke query per engine tier
  * at the given SF — so a non-builder can confirm the engine runs
  * end-to-end without reading the operator sources.
  *
  * Usage: `sbt "runMain graft.Doctor [sfDir]"` (default sf0.001).
  * Exit 0 = every smoke query returned rows; nonzero otherwise.
  */
object Doctor {

  /** The documented conf dials (README "Conf dials") with their
    * defaults — printed resolved so an operator sees what THIS
    * session would run with.
    */
  private val dials = Seq(
    "spark.graft.exactPairLimit" -> "100000",
    "spark.graft.exactKnnPairLimit" -> "25000000",
    "spark.graft.exactDistinctLimit" -> "50000000",
    "spark.graft.exactFreqLimit" -> "50000000",
    "spark.graft.exactQuantileLimit" -> "10000000",
    "spark.graft.exactVocabLimit" -> "20000000",
    "spark.graft.exactClusterDocLimit" -> "2000",
    "spark.graft.fuzzyDecontamPairLimit" -> "1000000",
    "spark.graft.cc.localSolveLimit" -> "100000",
    "spark.graft.lsh.nbits" -> "24",
    "spark.graft.lsh.bands" -> "4",
    "spark.graft.bloom.bits" -> "(auto-sized from benchmark side)",
    "spark.graft.bpe.merges" -> "32",
    "spark.graft.semdedup.tau" -> "0.95",
    "spark.graft.als.rank" -> "50",
    "spark.graft.als.reg" -> "0.01",
    "spark.graft.als.grid" -> "20,50:0.01,0.1",
    "spark.graft.cooccur.userCap" -> "(uncapped)",
    "spark.graft.rangeJoin.bucketWidth" -> "(per-plan opt-in)",
    "spark.graft.video.wideFrameBands" -> "true",
    "spark.graft.media.widePhashBands" ->
      "(unset: auto from corpus size)",
    "spark.graft.media.phashWideThresholdItems" -> "80000",
    "spark.graft.edgeCacheMaxEntries" -> "16",
    "spark.graft.edgeCacheGlobalMaxEntries" -> "64")

  /** One representative query per tier — cheap at sf0.001, together
    * touching parquet scan, join/agg, window, LSH dedup, ANN, text,
    * sketch regime routing, graph checkpoint cache, the curation
    * composition, media decode+band, and ALS-free ML scoring.
    */
  private val smokes = Seq(
    "relational" -> "q06_join_equi_agg",
    "window" -> "q11_topk_window",
    "scalar-ml" -> "q16_rmse",
    "dedup" -> "q30_dedup_exact",
    "ann" -> "q35_ann_bruteforce",
    "text" -> "q41_lang_id",
    "sketch" -> "q45_approx_distinct",
    "curation" -> "q62_curation_pipeline",
    "graph" -> "q122_triangles",
    "media" -> "q152_media_perceptual_dedup")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Scale.sessionBuilder("graft-doctor", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(s"graft doctor — spark ${spark.version}, " +
      s"master local[$cpus], sfDir $sfDir")
    // note: the right-hand values for unset dials are the DOCUMENTED
    // defaults (README "Conf dials"), snapshotted here — a retuned
    // code default must update both tables (they are review-linked),
    // while a SET conf always prints its live session value
    println("\nconf dials (set -> live value; unset -> documented " +
      "default):")
    dials.foreach { case (k, d) =>
      val v = spark.conf.getOption(k)
        .map(x => s"$x").getOrElse(s"(unset; doc default) $d")
      println(f"  $k%-42s $v")
    }
    println("\ntestdata:")
    Seq("sf0.001", "sf0.01", "sf0.1").foreach { sf =>
      val dir = new java.io.File(s"/root/testdata/$sf")
      val tables =
        if (dir.isDirectory)
          dir.listFiles().count(_.getName.endsWith(".parquet"))
        else 0
      println(f"  /root/testdata/$sf%-10s " +
        (if (tables > 0) s"present ($tables tables)" else "MISSING"))
    }
    println(s"\nsmoke queries (1 per tier, at $sfDir):")
    var failed = 0
    smokes.foreach { case (tier, name) =>
      val t0 = System.nanoTime()
      val res =
        try {
          val n = SparkEntry.queries(name)(spark, sfDir).count()
          if (n > 0) f"OK    rows=$n%-8d" else { failed += 1; "EMPTY " }
        } catch {
          case NonFatal(e) =>
            failed += 1
            s"FAIL  ${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("").take(60)}"
        }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"  $tier%-11s $name%-28s $res%-22s $dt%6.2f s")
    }
    // Resolved AUTO decisions (r16 verdict item 8): the two dials
    // added in r16/r17 whose effective value is computed, not read —
    // drift between documented and resolved defaults becomes visible
    // per round. The media smoke above already warmed the hash
    // cache, so the count here is one cheap job.
    try {
      val items = graft.mm.MediaDedup.imageHashes(spark, sfDir).count()
      val (b, bits) = graft.mm.MediaDedup.phashBandLayout(spark, items)
      println(s"\nresolved auto decisions:")
      println(s"  media phash band layout  ${b}x$bits " +
        s"(items=$items at $sfDir, threshold=" +
        s"${graft.mm.MediaDedup.phashWideThresholdItems(spark)})")
      println(s"  sweep replica offset     " +
        sys.env.getOrElse("SPARK_GRAFT_REPLICA_OFFSET",
          s"${ScaleSweep.ReplicaOffset} (default; " +
            s"k<=${graft.mm.MediaDedup.CopyIdOffset /
              ScaleSweep.ReplicaOffset})"))
    } catch { case NonFatal(e) =>
      println(s"  (resolved-decision probe failed: ${e.getMessage})")
    }
    println(if (failed == 0) "\ndoctor: all green"
      else s"\ndoctor: $failed smoke(s) failed")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
