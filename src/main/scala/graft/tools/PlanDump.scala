package graft.tools


/** Dump `.explain("formatted")` for named registry queries to files —
  * the r17 plan-evidence deliverable (`plans/r17/<q>_<tag>.txt`).
  *
  *   runMain graft.tools.PlanDump <outDir> <tag> q_a q_b ...
  *
  * Construction-time eager actions (snapshots, dial probes) run as a
  * side effect; the dump is the FINAL frame's physical plan, which is
  * what the registry's count() executes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <query>...")
    val (outDir, tag, names) = (args(0), args(1), args.drop(2).toSeq)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.getOrCreate("graft-plandump")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, dir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$tag.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $q -> $outDir/${q}_$tag.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
