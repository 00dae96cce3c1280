package graft

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funspec.AnyFunSpec
import graft.sources.{Scratch, Staging}
import graft.tools.Probe

/** The cluster-run switch for multi-consumer staging panels
  * ([[graft.sources.Staging]]): `graft.staging.reliable=true` routes
  * every `.snapshot()` through a reliable checkpoint instead of
  * `localCheckpoint`, trading a write to durable storage for
  * executor-loss recovery. Results must be bit-identical either way.
  */
class StagingSpec extends AnyFunSpec with BeforeAndAfterAll {
  import SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // One checkpoint dir for every reliable-mode case below, deleted once
  // after the last: a context keeps the dir of its first reliable
  // snapshot, whatever `graft.staging.dir` says later.
  private val ckptDir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
  private val reliable = Seq("graft.staging.reliable" -> "true", "graft.staging.dir" -> ckptDir)
  override def afterAll(): Unit = try Scratch.deleteDir(ckptDir) finally super.afterAll()

  describe("Staging.snapshot reliable mode") {
    it("refuses reliable mode without a checkpoint dir, with a clear message") {
      // must run before any reliable snapshot sets the sticky
      // SparkContext checkpoint dir for this shared JVM
      assume(spark.sparkContext.getCheckpointDir.isEmpty)
      spark.conf.set("graft.staging.reliable", "true")
      try {
        val e = intercept[IllegalStateException] {
          graft.sources.Staging.snapshot(spark.range(3).toDF())
        }
        assert(e.getMessage.contains("graft.staging.dir"))
      } finally spark.conf.unset("graft.staging.reliable")
    }

    it("reliable checkpoints produce identical results on the heaviest shared-panel query") {
      val default = SparkEntry.queries("q_pairs_spread")(spark, dir).collect().toSeq
      val got = Session.withConf(spark, reliable: _*) {
        SparkEntry.queries("q_pairs_spread")(spark, dir).collect().toSeq
      }
      assert(got.nonEmpty && got == default)
    }
  }

  // After the reliable-mode specs above: a reliable snapshot sets the
  // shared context's checkpoint dir, which the first spec needs unset.
  describe("Profiling.globalRank regime gate") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.operators.Profiling

    /** Under `confs`: ranks equal `row_number() OVER (ORDER BY v, id)`,
      * in one column order, through the range device iff `range`. */
    def ranked(range: Boolean, confs: (String, String)*): Unit = {
      import spark.implicits._
      val df = (1L to 40L).map(i => (i, i * 7919L % 13)).toDF("id", "v")
      val want = df
        .withColumn("rn", row_number().over(Window.orderBy("v", "id")).cast("long"))
        .withColumn("nn", count(lit(1)).over(Window.partitionBy()))
      var plan = ""
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val (got, rec) = try Probe.record(spark) {
        Profiling.globalRank(df, Seq(col("v"), col("id")), "rn", "nn") { r =>
          plan = r.queryExecution.sparkPlan.toString
          r
        }
      } finally confs.foreach { case (k, _) => spark.conf.unset(k) }
      assert(got.columns.toSeq == Seq("id", "v", "rn", "nn"))
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
      assert(plan.contains("__pid") == range, plan)
      // the device's own executions (its snapshots) carry the range cut
      if (range) assert(rec.plans.exists(_.contains("rangepartitioning")))
    }

    it("keeps the single bounded window under the pin dial") {
      ranked(range = false)
    }

    it("equals row_number with the pin dial at zero") {
      ranked(range = true, "graft.staging.pinThreshold" -> "0")
    }

    it("equals row_number on an unmeasured (reliable) snapshot") {
      ranked(range = true, reliable: _*)
    }
  }

  // The large branch of every regime gate, one query per gate: each
  // regime must reproduce the default regime's rows through it.
  private def run(q: String, sf: String, confs: (String, String)*): (Seq[String], Probe.Record) =
    Session.withConf(spark, confs: _*) {
      Probe.record(spark)(Staging.scoped(spark) {
        SparkEntry.queries(q)(spark, sf).collect().map(_.toString).toSeq.sorted
      })
    }
  private val defaults = scala.collection.mutable.Map.empty[String, (Seq[String], Probe.Record)]
  private val regimes = Seq("graft.staging.pinThreshold=0" -> Seq("graft.staging.pinThreshold" -> "0"),
    "graft.staging.reliable=true" -> reliable)

  // A Graph gate's large branch holds the hash exchange `snapshotKeyed`
  // pins (REPARTITION_BY_NUM), which no default-regime plan of these
  // queries holds.
  describe("graph regime gates") {
    def pinned(rec: Probe.Record): Boolean = rec.plans.exists(_.contains("REPARTITION_BY_NUM"))

    for {
      q <- Seq("q_pagerank", "q_ppr", "q_triangles", "q_ktruss", "q_communities", "q_hits",
        "q_link_predict", "q_kcore", "q_scc", "q_bfs_hops", "q_closeness")
      (regime, confs) <- regimes
    } it(s"$q under $regime: the default regime's rows, through the large branch") {
      // q_kcore's 30-core is empty at sf0.001
      val sf = if (q == "q_kcore") "/root/testdata/sf0.01" else dir
      val (want, default) = defaults.getOrElseUpdate(q, run(q, sf))
      assert(want.nonEmpty)
      assert(!pinned(default), s"$q pinned a layout in the default regime")
      val (got, rec) = run(q, sf, confs: _*)
      assert(got == want)
      assert(pinned(rec), s"$q took the small branch under $regime")
    }
  }

  // `Dedup.dedupGroups`' large branch is star contraction, whose
  // convergence check is the only except-all (`replicaterows`) these
  // queries plan; the small branch is the driver union-find.
  describe("near-dup group regime gate") {
    def star(rec: Probe.Record): Boolean = rec.plans.exists(_.contains("replicaterows"))

    for {
      q <- Seq("q_dedup_groups", "q_semdedup")
      (regime, confs) <- regimes
    } it(s"$q under $regime: the default regime's rows, through star contraction") {
      val (want, default) = defaults.getOrElseUpdate(q, run(q, dir))
      assert(want.nonEmpty)
      assert(!star(default), s"$q ran star contraction in the default regime")
      val (got, rec) = run(q, dir, confs: _*)
      assert(got == want)
      assert(star(rec), s"$q took the driver union-find under $regime")
    }
  }

  describe("Staging.snapshotCounted") {
    import org.apache.spark.sql.functions._
    for ((regime, confs) <- Seq("default" -> Nil, "graft.staging.reliable=true" -> reliable))
      it(s"returns the true row count from the snapshot's own execution, counted once ($regime)") {
        Session.withConf(spark, confs: _*)(Staging.scoped(spark) {
          // an aggregate over a shuffle, which AQE runs as two jobs
          val agg = spark.range(0, 10000, 1, 4).groupBy((col("id") % 37).as("k")).count()
          for ((df, want) <- Seq(agg.filter(col("k") =!= 0) -> 36L, agg.filter(col("k") > 99) -> 0L)) {
            val ((snap, n), rec) = Probe.record(spark)(Staging.snapshotCounted(df))
            assert(n == want)
            assert(rec.plans.size == 1, "one execution: the snapshot's")
            assert(snap.count() == want)
          }
        })
      }
  }

  describe("Staging.scoped") {
    // RDD ids are never reused and ContextCleaner only ever drops
    // entries, so a restored set is one that gained nothing
    def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

    Seq("q_kcore", "q_hits").foreach { q =>
      it(s"frees every snapshot $q persisted") {
        val before = persisted
        val inside = Staging.scoped(spark) {
          SparkEntry.queries(q)(spark, dir).count()
          persisted
        }
        assert((inside -- before).nonEmpty, s"$q persisted nothing")
        assert((persisted -- before).isEmpty, persisted -- before)
      }
    }

    it("releases when the body throws, and the exception propagates") {
      val before = persisted
      var staged = Set.empty[Int]
      val e = intercept[IllegalStateException] {
        Staging.scoped(spark) {
          Staging.snapshot(spark.range(100).toDF()).count()
          staged = persisted -- before
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage == "body failed")
      assert(staged.nonEmpty)
      assert((persisted -- before).isEmpty, persisted -- before)
    }
  }
}
