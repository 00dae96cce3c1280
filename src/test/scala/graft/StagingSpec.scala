package graft

import org.scalatest.funspec.AnyFunSpec

/** The cluster-run switch for multi-consumer staging panels
  * ([[graft.sources.Staging]]): `graft.staging.reliable=true` routes
  * every `.snapshot()` through a reliable checkpoint instead of
  * `localCheckpoint`, trading a write to durable storage for
  * executor-loss recovery. Results must be bit-identical either way.
  */
class StagingSpec extends AnyFunSpec {
  import SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

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
      val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      try {
        spark.conf.set("graft.staging.reliable", "true")
        spark.conf.set("graft.staging.dir", tmp)
        val reliable = SparkEntry.queries("q_pairs_spread")(spark, dir).collect().toSeq
        assert(reliable.nonEmpty && reliable == default)
      } finally {
        spark.conf.unset("graft.staging.reliable")
        spark.conf.unset("graft.staging.dir")
        new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
      }
    }
  }

  // After the reliable-mode specs above: a reliable snapshot sets the
  // shared context's checkpoint dir, which the first spec needs unset.
  describe("Profiling.globalRank regime gate") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.operators.Profiling
    import graft.tools.Probe

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
      val tmp = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
      try ranked(range = true, "graft.staging.reliable" -> "true", "graft.staging.dir" -> tmp)
      finally new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  describe("Staging.scoped") {
    import graft.sources.Staging
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
