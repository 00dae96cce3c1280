package graft

import java.lang.management.ManagementFactory
import java.net.{URL, URLClassLoader}
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}
import org.apache.spark.metrics.source.CodegenMetrics
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

      TempDir("graft_session") { d =>
        val dir = new java.io.File(d)
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

  describe("one codegen cache per JVM") {
    it("a new session reruns a query whose tasks compile without compiling a class") {
      def query(s: SparkSession) = s.range(0, 4000, 1, 4).selectExpr("id % 13 AS k", "id * 7 AS v")
        .groupBy("k").sum("v").collect()
      query(spark)
      assert(CodegenChild.compiles(query(spark.newSession())) == 0)
    }

    it("a new session of a graft-built context plans at the context's partition count") {
      val n = spark.sparkContext.defaultParallelism.toString
      assert(spark.conf.get("spark.sql.shuffle.partitions") == n)
      assert(spark.newSession().conf.get("spark.sql.shuffle.partitions") == n)
    }

    it("a second context in the JVM drains StreamingPipeline without compiling again") {
      TempDir("graft_codegen_child") { dir =>
        val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
        val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
          .filter(_.startsWith("--add-opens"))
        val (stdout, log) = (new java.io.File(dir, "child.out"), new java.io.File(dir, "child.log"))
        val child = new ProcessBuilder((Seq(javaBin, "-Xmx1g", "-Dspark.master=local[2]",
          s"-Dspark.plugins=${classOf[RecordingPlugin].getName}") ++ opens ++
          Seq("-cp", System.getProperty("java.class.path"), CodegenChild.getClass.getName.stripSuffix("$"),
            dir)).asJava)
          .redirectOutput(stdout).redirectError(log).start()
        val exited = child.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
        if (!exited) child.destroyForcibly().waitFor()
        assert(exited && child.exitValue == 0,
          Files.readAllLines(log.toPath).asScala.takeRight(40).mkString("\n"))
        val out = Files.readAllLines(stdout.toPath).asScala.toList
        val got = out.flatMap { l =>
          l.split(" ", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
        }.toMap
        val Array(first, second) = got("compiles").split(",").map(_.toLong)
        assert(first >= 10 && second <= 2, out)
        val plugins = got("plugins").split(",").toSet
        assert(plugins == Set(classOf[RecordingPlugin].getName, classOf[SharedCodegen].getName), out)
        // a context with a jar: its tasks keep the executor's own loader
        assert(got("jar_loader") == "kept", out)
      }
    }

    it("a task's loader moves to its parent only when it holds no URLs") {
      val parent = getClass.getClassLoader
      val empty = new URLClassLoader(Array.empty[URL], parent)
      val withJar = new URLClassLoader(Array(new java.io.File("x.jar").toURI.toURL), parent)
      val other = new ClassLoader(parent) {}
      assert(SharedCodegen.loaderFor(empty) eq parent)
      assert(SharedCodegen.loaderFor(withJar) eq withJar)
      assert(SharedCodegen.loaderFor(other) eq other)
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
      // staging is `snapshot()` + `Staging.release`: no hand-rolled persist anywhere else
      val device = "getPersistentRDDs|\\.persist\\(|unpersist\\(".r
      val hits = scalaFiles("src/main").filter(p => device.findFirstIn(read(p)).nonEmpty)
        .map(_.toString)
      assert(hits == Seq("src/main/scala/graft/sources/Staging.scala"))
    }

    it("SCALING.md written only by graft/tools/Scaling.scala") {
      val hits = scalaFiles("src/main").filter(p => read(p).contains("SCALING.md")).map(_.toString)
      assert(hits == Seq("src/main/scala/graft/tools/Scaling.scala"))
    }

    it("snapshot sizes and the pin dial only in graft/sources/Staging.scala") {
      val device = "measuredBytes|measuredSize|pinThreshold|getRDDStorageInfo".r
      val hits = scalaFiles("src/main").filter(p => device.findFirstIn(read(p)).nonEmpty)
        .map(_.toString)
      assert(hits == Seq("src/main/scala/graft/sources/Staging.scala"))
    }

    it("one shingling and one MinHash signing path in graft/operators") {
      // (file, enclosing def) of every match of `device` in the operators
      def sites(device: String): Seq[(String, String)] =
        scalaFiles("src/main/scala/graft/operators").flatMap { p =>
          val src = read(p)
          device.r.findAllMatchIn(src).map { m =>
            p.getFileName.toString ->
              "def (\\w+)".r.findAllMatchIn(src.take(m.start)).map(_.group(1)).toSeq.last
          }
        }
      assert(sites("\"minhash_sig\"") == Seq("Dedup.scala" -> "minhashSignatures"))
      assert(sites("\"word_shingles\"") == Seq("Dedup.scala" -> "withShingles"))
      assert(sites("(?<!def )\\bwithShingles\\(").sorted ==
        Seq("Decontamination.scala" -> "evalShingleHashes", "Dedup.scala" -> "shingledDocs"))
    }

    it("one returns panel and one exact-moments device in DailyAnalytics") {
      // enclosing def of every literal `device` in DailyAnalytics and SparkEntry
      def sites(device: String): Seq[String] =
        Seq("operators/DailyAnalytics.scala", "SparkEntry.scala").flatMap { f =>
          val src = read(Paths.get(s"src/main/scala/graft/$f"))
          java.util.regex.Pattern.quote(device).r.findAllMatchIn(src).map { m =>
            "def (\\w+)".r.findAllMatchIn(src.take(m.start)).map(_.group(1)).toSeq.last
          }
        }.sorted
      // the panel drops `volume`, `close_price` and the raw return: these read them
      assert(sites(""".filter(col("daily_return_pct").isNotNull)""") == Seq(
        "amihudIlliquidity", "calmarRatio", "kyleLambda", "qPercentRank", "returnsPanel",
        "seasonalityDow", "ulcerIndex"))
      // sums that are not (n, Σa, Σa·b) moments: decimal first moments
      // (cointegration, amihud), higher powers (jarqueBera), per-group
      // rollup names (anova, Brown-Forsythe, Friedman), products of
      // derived terms (kpss, energy distance), drawdowns and volume
      assert(sites("sum(dec38(") == Seq(
        "amihudIlliquidity", "anovaDow", "brownForsythe") ++
        Seq.fill(9)("cointegrationAdjacent") ++ Seq(
        "energyDistanceSplit", "friedmanDow", "hhiConcentration", "jarqueBera", "jarqueBera",
        "jarqueBera", "kpss", "kpss", "kpss", "kpss", "momentSums", "ulcerIndex"))
    }

    describe("one sample path in graft/operators/Multimodal.scala") {
      lazy val src = read(Paths.get("src/main/scala/graft/operators/Multimodal.scala"))
      def count(device: String): Int =
        java.util.regex.Pattern.quote(device).r.findAllMatchIn(src).size
      it("one little-endian int16 read") {
        assert(count(": Int) << 8) |") == 1)
      }
      it("one RIFF field reader") {
        assert(count("def u16(") == 1 && count("def u32(") == 1)
      }
      it("one payload step: a single row encoder") {
        assert(count("Encoders.row(") == 1)
      }
    }

    it("no registration checks in the operators: the natives are the only path") {
      val check = ("function" + "Exists|nat" + "Fn").r
      val hits = scalaFiles("src/main/scala/graft/operators")
        .filter(p => check.findFirstIn(read(p)).nonEmpty).map(_.toString)
      assert(hits.isEmpty)
    }
  }
}

/** Does nothing but note the `spark.plugins` of the context that loads it. */
class RecordingPlugin extends SparkPlugin {
  def driverPlugin(): DriverPlugin = new DriverPlugin {
    override def init(sc: SparkContext, ctx: PluginContext): java.util.Map[String, String] = {
      RecordingPlugin.seen = sc.getConf.get("spark.plugins")
      java.util.Collections.emptyMap()
    }
  }
  def executorPlugin(): ExecutorPlugin = null
}

object RecordingPlugin {
  @volatile var seen = ""
}

/** SessionSpec's child JVM, run the way a scheduler runs the mains:
  *
  *   CodegenChild <dir>
  *
  * Drains two tick increments through `StreamingPipeline.main`, each
  * in a context it builds and stops, then runs one job on a context
  * with a jar. Prints `compiles <first>,<second>` (generated-class
  * compiles per drain), `plugins <spark.plugins of the first context>`
  * and `jar_loader kept|moved`. */
object CodegenChild {
  /** Generated classes the JVM compiled while `body` ran. */
  def compiles(body: => Any): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  def main(args: Array[String]): Unit = {
    val zone = new TickDrain(args(0))
    def drain(name: String, rows: Seq[String]): Long = {
      zone.land(name, rows)
      compiles(zone.drain())
    }
    val first = drain("a.csv", TickDrain.firstRows)
    val plugins = RecordingPlugin.seen
    val second = drain("b.csv", TickDrain.closingRows)
    println(s"compiles $first,$second")
    println(s"plugins $plugins")

    val jar = new java.io.File(args(0), "empty.jar")
    new java.util.jar.JarOutputStream(new java.io.FileOutputStream(jar)).close()
    sys.props("spark.jars") = jar.getAbsolutePath
    val spark = Session.getOrCreate("graft-codegen-jar")
    val kept = spark.sparkContext.parallelize(1 to 4, 4).map { _ =>
      Thread.currentThread.getContextClassLoader match {
        case u: URLClassLoader => u.getURLs.exists(_.getPath.endsWith("empty.jar"))
        case _ => false
      }
    }.collect()
    spark.stop()
    println(s"jar_loader ${if (kept.forall(identity)) "kept" else "moved"}")
  }
}
