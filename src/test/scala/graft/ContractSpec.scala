package graft

/** Guards the driver contract itself: the correctness gate silently
  * weakens if an oracle key drifts from its query name (the driver
  * would record a missing query, not a failure).
  */
class ContractSpec extends SparkSpec {

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("query names are unique across modules") {
    val names = SparkEntry.allDefs.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: $dups")
  }

  test("query names follow the qNN_ convention and are dense-ish") {
    val names = SparkEntry.allDefs.map(_.name)
    assert(names.forall(_.matches("q\\d{2,3}_[a-z0-9_]+")), names.toString)
  }

  test("flagship entry returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracle SQL mentions every Spark output column by name") {
    // The driver's hash compare sorts columns BY NAME before hashing,
    // so a renamed aggregate on one side hash-mismatches even with
    // identical values. Guard: every output column of an oracled
    // query must appear verbatim in its oracle SQL.
    val misses = SparkEntry.allDefs.filter(_.oracle.isDefined).flatMap {
      q =>
        val sql = q.oracle.get.toLowerCase
        // word-boundary match, not substring: 'sim' must not be
        // satisfied by an unrelated 'similarity' in the SQL
        val missing = q.fn(spark, sfTiny).columns
          .filterNot(c => ("(?i)\\b" + java.util.regex.Pattern.quote(c) +
            "\\b").r.findFirstIn(sql).isDefined)
        if (missing.isEmpty) None else Some(s"${q.name}: $missing")
    }
    assert(misses.isEmpty, misses.mkString("\n"))
  }

  private def mainSources: Seq[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), root.toAbsolutePath)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    } finally walk.close()
  }

  private def read(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")

  test("every main under src/main is a kept entry point") {
    // one-off measurement mains rot unreferenced; their results live
    // in the OPTIMIZATION_* / SWEEP_* records, not as code
    val keep = Set("Bench", "Verify", "GateRun", "PlanDump", "ScaleSweep",
      "Doctor", "Demo", "PlanAudit", "StageProbe")
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = mainSources.flatMap { p =>
      val src = read(p)
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.start))
          .map(_.group(1)).toSeq.lastOption.getOrElse(p.toString)
      }
    }
    assert(mains.nonEmpty, "no main found: the scan is broken")
    val extra = mains.toSet -- keep
    assert(extra.isEmpty, s"mains outside the keep list: $extra")
  }

  test("StandingState is the only session cache: no other file keeps " +
      "a ConcurrentHashMap") {
    val files = mainSources
    assert(files.exists(_.endsWith("StandingState.scala")))
    val others = files.filterNot(_.endsWith("StandingState.scala"))
      .filter(p => read(p).contains("ConcurrentHashMap"))
    assert(others.isEmpty, s"hand-rolled caches in: $others")
  }
}
