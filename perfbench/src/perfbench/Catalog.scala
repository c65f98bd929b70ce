package perfbench

import org.apache.spark.sql.SparkSession

/** `catalog_serve`: a closed loop with one client over a fixed set of
  * registered queries, on seeded star-schema tables. A build pass runs
  * each query once with empty standing caches; warm passes then repeat
  * the same queries in the same seed-shuffled order. Every result is
  * collected in full and hashed; each warm hash must equal its build
  * hash.
  */
object Catalog {

  /** The served set, each query with its module: a fixed sample of the
    * registry covering every module, chosen so that each standing cache
    * kind (ANN/PQ indexes, dedup pairs, graph edges, media hashes, text
    * models) is built once in the build pass and hit in the warm passes,
    * and so that a whole run fits the benchmark's time budget.
    */
  val Served: Seq[(String, String)] = Seq(
    "q58_asof_join_exec" -> "ops", "q81_pagerank" -> "graph",
    "q77_quality_classifier" -> "ml", "q31_dedup_minhash_lsh" -> "dedup",
    "q48_ann_ivf" -> "search", "q42_fingerprint" -> "text",
    "q25_stream_rescore_batch" -> "streaming",
    "q152_media_perceptual_dedup" -> "mm", "q62_curation_pipeline" -> "pipeline")
  val moduleOf: Map[String, String] = Served.toMap

  /** Warm passes per run, the same on every run so that each metric is
    * computed from the same samples whatever the speed being measured.
    */
  val WarmPasses = 2

  def order(seed: Long): Seq[String] =
    scala.util.Random.javaRandomToRandom(Gen.rng(seed, 5)).shuffle(Served.map(_._1))

  final case class Sample(query: String, module: String, pass: Int,
      seconds: Double, spanIdx: Int)

  final case class Result(build: Seq[Sample], warm: Seq[Sample],
      mismatches: Seq[String])

  def run(spark: SparkSession, dir: String, seed: Long, t: Tracer,
      calls: Calls): Result = {
    val fns = graft.SparkEntry.queries
    val qs = order(seed)
    val builtHash = scala.collection.mutable.Map[String, String]()
    val mismatches = Seq.newBuilder[String]
    def pass(p: Int): Seq[Sample] = qs.flatMap { q =>
      val m = moduleOf(q)
      val name = if (p == 0) s"$m.build" else s"$m.serve"
      calls(q) {
        val t0 = System.nanoTime()
        val (_, h) = t.span(name)(Materialize.hashed(fns(q)(spark, dir)))
        val s = (System.nanoTime() - t0) / 1e9
        if (p == 0) builtHash(q) = h
        else if (builtHash.get(q).exists(_ != h)) mismatches += s"$q pass $p"
        Sample(q, m, p, s, t.lastIndex)
      }
    }
    val build = pass(0)
    // when tracing, warm pass 2 runs untraced so pass 1 against it
    // gives the overhead
    val warm = (1 to WarmPasses).flatMap { p =>
      t.active = t.enabled && p != 2
      HeapSampler.checkpoint()
      pass(p)
    }
    t.active = t.enabled
    Result(build, warm, mismatches.result())
  }
}
