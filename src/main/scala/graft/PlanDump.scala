package graft

import scala.util.control.NonFatal

/** Dump `.explain("formatted")` for named queries to files — the
  * plan-evidence capture for optimization rounds (plans/rNN/
  * <query>_<tag>.txt). Plans are built against the given dir with the
  * standard session (AQE on, as executed); the formatted output shows
  * the initial plan plus scan details (PushedFilters/ReadSchema),
  * which is what the plan-diff claims in OPTIMIZATION_rNN.md cite.
  *
  *   sbt "runMain graft.PlanDump /root/testdata/sf0.1 plans/r19 before q153_curation_v3 q137_shared_spans"
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: PlanDump <sfDir> <outDir> <tag> <query> [query...]")
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val queries = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Scale.sessionBuilder("graft-plan-dump", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- queries) {
      val fn = SparkEntry.queries(name)
      val txt =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case NonFatal(e) => s"PLAN BUILD FAILED: $e" }
      val p = java.nio.file.Paths.get(outDir, s"${name}_$tag.txt")
      java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      println(s"wrote $p (${txt.length} chars)")
    }
    spark.stop()
  }
}
