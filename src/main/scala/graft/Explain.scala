package graft

/** Plan-inspection tool: prints the formatted physical plan of one (or
  * every) SparkEntry query. Usage:
  *   runMain graft.Explain <queryName|all> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val target = args.headOption.getOrElse("all")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = Session.getOrCreate("graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (target == "all") SparkEntry.queries.keys.toSeq.sorted else Seq(target)
    names.foreach { name =>
      println(s"\n========== $name ==========")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
