package graft

/** The SPECGATES.json contract: every no_oracle query carries exactly
  * one machine-readable gate, the JSON renders cleanly, and the cheap
  * structural gates measure zero violations on real data. The full
  * gate sweep (ALS fits, recall passes) runs inside Verify — this
  * spec keeps the export aligned with the registry without re-paying
  * those fits in the unit suite.
  */
class GatesSpec extends SparkSpec {

  private val noOracle =
    SparkEntry.allDefs.filter(_.oracle.isEmpty).map(_.name).toSet

  test("gate registry covers every no_oracle query") {
    // every no_oracle query MUST have a gate; a gate MAY additionally
    // back an oracle-checked query (q110: the hash check plus the
    // semantic leakage gate is the strongest combination)
    val oracleBacked =
      Set("q110_cluster_split", "q42_fingerprint", "q126_kcore",
        // q68: the registered query is the exact two-tier pipeline
        // (oracle = q60's decision set); the gate keeps measuring
        // the RAW bloom tier's zero-false-negative contract.
        "q68_decontaminate_bloom",
        // q151: hash-checked selection set PLUS the statistical
        // property (sample proportions track importance weights).
        "q151_dsir_resample",
        // q45/q63/q66: regime-routed (exact + oracle-checked below
        // their linear-affordability bounds, sketch above); the
        // gates keep measuring the RAW sketch tiers either way.
        "q45_approx_distinct", "q63_corpus_sketch",
        "q66_quantile_sketch", "q114_hll_rollup",
        "q91_fuzzy_decontaminate",
        // q49: exact edges + recursive-CTE CC oracle below the pair
        // limit, LSH edges (rows-only) above; the structural gate
        // measures in both regimes.
        "q49_dedup_clusters",
        // round-12 graduations: regime-routed with the gates
        // re-pointed at the raw sketch/IVF tiers (countMinErr,
        // knnJoinIvf, knnIncrementalIvf) so they keep measuring in
        // both regimes.
        "q112_count_min", "q127_knn_join", "q134_knn_incremental")
    assert((noOracle -- Gates.names.toSet).isEmpty,
      s"missing=${noOracle -- Gates.names.toSet}")
    assert((Gates.names.toSet -- noOracle -- oracleBacked).isEmpty,
      s"extra=${Gates.names.toSet -- noOracle -- oracleBacked}")
    assert(Gates.names.distinct.size == Gates.names.size,
      "one gate entry per query")
    // a gate against a nonexistent dir degrades to NaN/fail instead
    // of throwing (q23 exempt by design: it measures planted ratings
    // generated in-process, not sfDir)
    val dry = Gates.all(spark, "/nonexistent",
      only = Set("q45_approx_distinct", "q49_dedup_clusters"))
    assert(dry.size == 2 && dry.forall(g => !g.pass && g.value.isNaN))
  }

  test("json rendering is valid and NaN-free") {
    val rs = Seq(
      GateResult("q00_x", "recall", 0.9734, 0.8, ">=", pass = true),
      GateResult("q01_y", "violations", 0.0, 0.0, "<=", pass = true),
      GateResult("q02_z", "err", Double.NaN, 4.0, "<=", pass = false))
    val js = Gates.toJson(rs)
    assert(js.contains("\"q00_x\"") && js.contains("0.973400"))
    assert(js.contains("\"value\": 0,"))
    assert(js.contains("\"value\": null,") && !js.contains("NaN"))
    assert(js.trim.startsWith("{") && js.trim.endsWith("}"))
    // the SF stamp (round-13): present iff an sf was passed, and first
    val stamped = Gates.toJson(rs, "/root/testdata/sf0.01")
    assert(stamped.contains("\"_sf\": \"/root/testdata/sf0.01\""))
    assert(stamped.indexOf("\"_sf\"") < stamped.indexOf("\"q00_x\""))
    assert(!js.contains("\"_sf\""))
  }

  test("structural gates measure zero violations at sf0.001") {
    val cheap = Set("q32_dedup_simhash", "q42_fingerprint",
      "q45_approx_distinct", "q68_decontaminate_bloom")
    val got = Gates.all(spark, sfTiny, only = cheap)
    assert(got.size == cheap.size)
    got.foreach(g => assert(g.pass, s"${g.query}: value=${g.value}"))
  }
}
