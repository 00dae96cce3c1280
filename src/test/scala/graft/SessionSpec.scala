package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funspec.AnyFunSpec
import graft.plans.{GraftExtensions, PinPartitioningStrategy}
import graft.sources.Staging

/** [[Session]] is the one way a graft entry point gets its session:
  * confs and natives reach sessions graft did not build, installing
  * twice changes nothing, and no second session builder, hand-written
  * listener or block-release loop creeps back. */
class SessionSpec extends AnyFunSpec {
  import SharedSpark.spark

  private val natives = GraftExtensions.functions.map(_._1)

  describe("Session.install") {
    it("a Pipelines main leaves the active session with graft's confs and natives") {
      val bare = spark.newSession()
      bare.conf.set("spark.sql.shuffle.partitions", "4")
      bare.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
      bare.conf.set("spark.sql.session.timeZone", "America/New_York")
      natives.foreach(bare.sessionState.functionRegistry.dropFunction)
      assert(!natives.exists(id => bare.catalog.functionExists(id.funcName)))

      val dir = Files.createTempDirectory("graft_session").toFile
      val raw = new java.io.File(dir, "raw")
      raw.mkdirs()
      val w = new java.io.PrintWriter(new java.io.File(raw, "bars.csv"))
      w.println("symbol,date,daily_open,daily_high,daily_low,daily_close,daily_volume,batch_load_timestamp")
      w.println("AAPL,2024-01-02,10,12,9,11,1000,2024-01-03T00:00:00")
      w.close()
      SparkSession.setActiveSession(bare)
      try graft.jobs.Pipelines.BatchPipeline.main(
        Array(raw.getAbsolutePath, new java.io.File(dir, "out").getAbsolutePath))
      finally SparkSession.setActiveSession(spark)

      assert(bare.conf.get("spark.sql.requireAllClusterKeysForCoPartition") == "false")
      assert(bare.conf.get("spark.sql.session.timeZone") == "UTC")
      val missing = natives.map(_.funcName).filterNot(bare.catalog.functionExists)
      assert(missing.isEmpty, s"natives missing after the main: $missing")
    }

    it("is idempotent: one pin strategy and the same keyed plan") {
      val s = spark.newSession()
      s.conf.set("spark.sql.shuffle.partitions", "4")
      val keyed = Staging.snapshotKeyed(s.range(100).selectExpr("id % 10 AS k", "id AS v"), "k")
      def plan(): String = keyed.groupBy("k").count().queryExecution
        .explainString(FormattedMode).replaceAll("#\\d+", "#")
      val before = plan()
      Session.install(Session.install(s))
      val pins = s.sessionState.planner.strategies.count(_.isInstanceOf[PinPartitioningStrategy])
      assert(pins == 1)
      assert(plan() == before)
      assert(!before.contains("Exchange"), s"the pinned layout must not re-exchange:\n$before")
    }
  }

  describe("source scan") {
    def scalaFiles(root: String): Seq[Path] =
      Files.walk(Paths.get(root)).iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    def read(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

    it("no session builder outside graft/Session.scala") {
      val builder = "SparkSession" + ".builder"
      val hits = scalaFiles("src").filter(p => read(p).contains(builder)).map(_.toString)
      assert(hits == Seq("src/main/scala/graft/Session.scala"))
    }

    it("no Spark or streaming-query listener outside graft/tools/Probe.scala") {
      val listener = "(extends|with|new)\\s+[\\w.]*\\b(SparkListener|StreamingQueryListener)\\b".r
      val hits = scalaFiles("src/main").filter(p => listener.findFirstIn(read(p)).nonEmpty)
        .map(_.toString)
      assert(hits == Seq("src/main/scala/graft/tools/Probe.scala"))
    }

    it("scratch dirs and content keys only in graft/sources/Scratch.scala") {
      val device = "contentKey\\(|createTempDirectory\\(|/dev/shm".r
      val hits = scalaFiles("src/main").filter(p => device.findFirstIn(read(p)).nonEmpty)
        .map(_.toString)
      assert(hits == Seq("src/main/scala/graft/sources/Scratch.scala"))
      val helper = "SparkEntry\\.(scratch\\w*|contentKey|deleteDir|sharedEventStage)".r
      val users = (Paths.get("src/main/scala/graft/sources/Marts.scala") +:
        scalaFiles("src/main/scala/graft/tools"))
        .filter(p => helper.findFirstIn(read(p)).nonEmpty).map(_.toString)
      assert(users.isEmpty)
    }

    it("block release only in graft/sources/Staging.scala") {
      val device = "getPersistentRDDs|unpersist\\(blocking = true\\)".r
      val hits = scalaFiles("src/main").filter(p => device.findFirstIn(read(p)).nonEmpty)
        .map(_.toString)
      assert(hits == Seq("src/main/scala/graft/sources/Staging.scala"))
    }

    it("no registration checks in the operators: the natives are the only path") {
      val check = ("function" + "Exists|nat" + "Fn").r
      val hits = scalaFiles("src/main/scala/graft/operators")
        .filter(p => check.findFirstIn(read(p)).nonEmpty).map(_.toString)
      assert(hits.isEmpty)
    }
  }
}
