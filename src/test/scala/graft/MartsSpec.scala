package graft

import java.io.File
import java.nio.file.{Files, Paths}
import org.scalatest.funspec.AnyFunSpec
import graft.sources.{Adapters, Marts, Scratch}
import graft.operators.DailyAnalytics

/** The materialized-silver-marts contract: reading the content-keyed
  * parquet mart is BIT-IDENTICAL to recomputing the panel from raw,
  * and the kill-switch forces the recompute path. The cache behind it,
  * [[Scratch.cached]], keeps entries for different inputs untouched and
  * publishes nothing from a failed build. */
class MartsSpec extends AnyFunSpec {
  import SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  private def partMtimes(stage: String): Map[String, Long] =
    new File(stage).listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified).toMap

  private def entries(name: String): Seq[String] =
    Option(Scratch.base.toFile.listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith(s"graft_${name}_")).toSeq

  describe("Marts materialization") {
    it("daily_bars mart equals the raw recompute exactly") {
      val mart = Marts.dailyBars(spark, dir)
      val raw = Adapters.dailyBars(spark, dir)
      assert(mart.schema.map(f => (f.name, f.dataType)) ===
        raw.schema.map(f => (f.name, f.dataType)))
      assert(rows(mart) === rows(raw))
    }

    it("daily_returns mart equals the raw recompute exactly") {
      val mart = Marts.dailyReturns(spark, dir)
      val raw = DailyAnalytics.dailyReturns(Adapters.dailyBars(spark, dir))
      assert(mart.schema.map(f => (f.name, f.dataType)) ===
        raw.schema.map(f => (f.name, f.dataType)))
      assert(rows(mart) === rows(raw))
    }

    it("second read serves the SAME cached files (no rebuild)") {
      val first = Marts.dailyBars(spark, dir)
      val files1 = first.inputFiles.toSet
      assert(files1.nonEmpty && files1.forall(_.contains("graft_mart_daily_bars_")))
      val files2 = Marts.dailyBars(spark, dir).inputFiles.toSet
      assert(files2 === files1)
    }

    it("marts for different inputs coexist (no cross-key eviction)") {
      // building the same mart for ANOTHER sf dir must not evict this
      // one — the r13 thrash: a composite build deleted every sf0.1
      // mart, so the next bench paid a rebuild per mart consumer
      val files1 = Marts.dailyBars(spark, dir).inputFiles.toSet
      assume(new java.io.File("/root/testdata/sf0.01").isDirectory)
      Marts.dailyBars(spark, "/root/testdata/sf0.01").count()
      assert(Marts.dailyBars(spark, dir).inputFiles.toSet === files1,
        "building a second content key evicted the first")
    }

    it("kill-switch graft.marts.materialize=false recomputes from raw") {
      spark.conf.set("graft.marts.materialize", "false")
      try {
        val off = Marts.dailyBars(spark, dir)
        assert(off.inputFiles.exists(_.contains("lineitem.parquet")))
        assert(rows(off) === rows(Adapters.dailyBars(spark, dir)))
      } finally spark.conf.unset("graft.marts.materialize")
    }

    it("scratch footprint stays bounded across alternating inputs") {
      // Simulated alternation: 7 distinct content keys of the SAME mart
      // and of the k=2 event stage (copies of sf0.001 — contentKey
      // hashes path+size+mtime, so each copy keys differently).
      // Eviction keeps the newest 5 siblings BEFORE publishing the new
      // build, so the steady-state footprint is 5 kept + 1 just-built =
      // 6 dirs per cache name, never growth linear in the number of
      // inputs a long session touches.
      def dirs(prefix: String) = Option(Scratch.base.toFile.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      val tmp = java.nio.file.Files.createTempDirectory("marts_alt").toFile
      try {
        (0 until 7).foreach { k =>
          val in = new java.io.File(tmp, s"in$k")
          in.mkdirs()
          Seq("lineitem", "events").foreach { t =>
            val dst = java.nio.file.Paths.get(in.toString, s"$t.parquet")
            java.nio.file.Files.copy(java.nio.file.Paths.get(dir, s"$t.parquet"), dst)
            dst.toFile.setLastModified(1700000000000L + k * 60000L) // distinct keys
          }
          Marts.dailyBars(spark, in.toString).count()
          SparkEntry.sharedEventStage(spark, in.toString, k = 2)
          Seq("graft_mart_daily_bars_", "graft_sj_stage_k2_").foreach { prefix =>
            val found = dirs(prefix)
            assert(found.length <= 6,
              s"$prefix footprint grew past keep-5+current after input $k: " +
                found.map(_.getName).mkString(", "))
          }
        }
      } finally Scratch.deleteDir(tmp.toString)
    }

    it("a cache READ refreshes eviction order — the touched mart survives, the untouched oldest goes") {
      // 6 distinct content keys, then a READ of key #0 (LRU touch),
      // then a 7th build: eviction keeps the newest-5 by mtime, so
      // the victim must be the UNTOUCHED oldest (#1), not the
      // least-recently-built (#0) — pins Scratch.cached's hit-touch
      val scratch = Scratch.base.toFile
      def martDirs = Option(scratch.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("graft_mart_daily_bars_"))
        .map(_.getName).toSet
      val tmp = java.nio.file.Files.createTempDirectory("marts_lru").toFile
      try {
        val ins = (0 until 7).map { k =>
          val in = new java.io.File(tmp, s"in$k")
          in.mkdirs()
          val dst = java.nio.file.Paths.get(in.toString, "lineitem.parquet")
          java.nio.file.Files.copy(
            java.nio.file.Paths.get(dir, "lineitem.parquet"), dst)
          dst.toFile.setLastModified(1710000000000L + k * 60000L) // distinct keys
          in.toString
        }
        val dirOf = (0 until 6).map { k =>
          val before = martDirs
          Marts.dailyBars(spark, ins(k)).count()
          val added = martDirs -- before
          assert(added.size == 1, s"build $k added ${added.size} dirs")
          k -> added.head
        }.toMap
        Marts.dailyBars(spark, ins(0)).count() // cache HIT → mtime touch
        Marts.dailyBars(spark, ins(6)).count() // 7th key → evicts one
        val now = martDirs
        assert(now.contains(dirOf(0)), "touched mart #0 was evicted — LRU touch lost")
        assert(!now.contains(dirOf(1)), "victim should be the untouched oldest (#1): " +
          now.mkString(", "))
      } finally Scratch.deleteDir(tmp.toString)
    }

    it("graph edge-list marts equal their recompute path exactly") {
      def recomputed(build: => org.apache.spark.sql.DataFrame) = {
        spark.conf.set("graft.marts.materialize", "false")
        try rows(build) finally spark.conf.unset("graft.marts.materialize")
      }
      assert(rows(Marts.bipartiteEdges(spark, dir)) ===
        recomputed(Marts.bipartiteEdges(spark, dir)))
      assert(rows(Marts.copurchasePairs(spark, dir)) ===
        recomputed(Marts.copurchasePairs(spark, dir)))
      assert(rows(Marts.sequenceEdges(spark, dir)) ===
        recomputed(Marts.sequenceEdges(spark, dir)))
      // the multi-source mart serves from its cache on the second read
      val files = Marts.bipartiteEdges(spark, dir).inputFiles.toSet
      assert(files.nonEmpty && files.forall(_.contains("graft_mart_bipartite_edges_")))
    }
  }

  describe("Scratch.cached") {
    it("staging a second input leaves the first event stage in place") {
      val first = SparkEntry.sharedEventStage(spark, dir, k = 2)
      val before = partMtimes(first)
      assert(before.nonEmpty)
      val copy = Files.createTempDirectory("graft_stage_copy").toFile
      try {
        Files.copy(Paths.get(dir, "events.parquet"), Paths.get(copy.toString, "events.parquet"))
        val second = SparkEntry.sharedEventStage(spark, copy.toString, k = 2)
        assert(second != first)
        assert(new File(first).isDirectory, "staging a second input evicted the first")
        assert(partMtimes(first) === before, "the first stage was rewritten")
        Scratch.deleteDir(second)
      } finally Scratch.deleteDir(copy.toString)
    }

    it("a build that throws publishes nothing, and the next call rebuilds") {
      val src = Files.createTempDirectory("graft_scratch_src").toFile
      var builds = 0
      def build(fail: Boolean)(out: String): Unit = {
        builds += 1
        Files.createDirectories(Paths.get(out))
        Files.write(Paths.get(out, "part-0"), Array[Byte](1))
        if (fail) throw new IllegalStateException("build failed")
      }
      try {
        intercept[IllegalStateException](Scratch.cached("spec_fail", 1, Seq(src))(build(fail = true)))
        assert(entries("spec_fail").isEmpty)
        val out = Scratch.cached("spec_fail", 1, Seq(src))(build(fail = false))
        assert(builds == 2)
        assert(new File(out, Scratch.Marker).exists)
        assert(entries("spec_fail") == Seq(new File(out).getName), "a .build dir was left behind")
        Scratch.cached("spec_fail", 1, Seq(src))(build(fail = false))
        assert(builds == 2, "a finished entry was rebuilt")
        Scratch.deleteDir(out)
      } finally Scratch.deleteDir(src.toString)
    }
  }
}
