package graft
import java.nio.file.{Files, Paths}
import graft.sources.Staging
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet // optional subset for local rehearsal
    val spark = Session.getOrCreate("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    // Self-heal the README's generated verification block: queries can
    // land in a round-end snapshot commit after the last manual regen
    // (it happened in round 12) — Verify runs every round, so healing
    // here makes the drift window one verify run at most.
    try {
      val readme = Paths.get("README.md")
      if (Files.exists(readme) && graft.tools.ReadmeCounts.heal(readme))
        System.err.println("[verify] README verification block was stale — regenerated")
    } catch { case e: Throwable =>
      System.err.println(s"[verify] README heal skipped: ${e.getMessage}")
    }
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try Staging.scoped(spark)(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name"))
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
