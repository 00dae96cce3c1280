package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.scalatest.funspec.AnyFunSpec
import graft.tools.Probe

/** [[Probe]] reports jobs, task time, plans and micro-batch phases for
  * registry queries, with every event of a run and none of another's. */
class ProbeSpec extends AnyFunSpec {
  import SharedSpark.spark
  private val dir = "/root/testdata/sf0.001"

  describe("Probe.probe") {
    it("records a batch query's jobs, task time and final plan, each job ended") {
      TempDir("graft_probe") { out =>
        val runs = Probe.probe(spark, dir, out, "q_mart_stock_performance")
        assert(runs.size == Probe.Runs)
        runs.foreach { r =>
          val recs = Seq(r.construct, r.execute)
          assert(recs.map(_.jobs.size).sum >= 1)
          assert(recs.map(_.taskS).sum > 0)
          assert(recs.flatMap(_.jobs).forall(j => j.endMs >= j.startMs), r.json)
        }
        val plan = new String(Files.readAllBytes(Paths.get(out, "q_mart_stock_performance.plan.txt")), "UTF-8")
        assert(plan.contains("Physical Plan"))
        val lines = Files.readAllLines(Paths.get(out, "layers.jsonl"))
        assert(lines.size == Probe.Runs && lines.get(0).startsWith("{\"query\":\"q_mart_stock_performance\""))
      }
    }

    it("saves the plan its count() ran: with an exchange, AQE's final plan") {
      TempDir("graft_probe") { out =>
        Probe.probe(spark, dir, out, "q_dedup_minhash_lsh")
        val plan = new String(Files.readAllBytes(Paths.get(out, "q_dedup_minhash_lsh.plan.txt")), "UTF-8")
        assert(plan.contains("Exchange") && plan.contains("isFinalPlan=true"), plan)
        assert(!plan.contains("isFinalPlan=false"), plan)
      }
    }

    it("leaves no RDD any of its runs persisted, the warm run's included") {
      TempDir("graft_probe") { out =>
        // RDD ids are never reused and ContextCleaner only ever drops
        // entries: a run's snapshot left behind shows up as a new id
        val before = spark.sparkContext.getPersistentRDDs.keySet
        val runs = Probe.probe(spark, dir, out, "q_kcore")
        assert(runs.forall(_.construct.jobs.nonEmpty))
        val left = spark.sparkContext.getPersistentRDDs.keySet -- before
        assert(left.isEmpty, left)
      }
    }

    it("records the micro-batch phases of a streaming lane") {
      TempDir("graft_probe") { out =>
        val construct = Probe.probe(spark, dir, out, "q_stream_join").last.construct
        val batches = construct.batches
        assert(batches.nonEmpty)
        assert(batches.exists(b => Seq("addBatch", "walCommit").forall(b.durationsMs.contains)),
          batches)
        // the join keeps four stores (two per side) in each of its 4 partitions
        assert(batches.forall(_.stateStores == 16), batches)
        assert(batches.map(_.stateCommitMs).sum > 0, batches)
        assert(Seq("\"state_commit_ms\":", "\"state_stores\":16").forall(construct.json.contains),
          construct.json)
      }
    }
  }

  describe("Probe codegen counts") {
    it("counts a new class's compile and its time") {
      val (_, rec) = Probe.record(spark)(
        spark.range(10).selectExpr(s"id * ${System.nanoTime() % 1000000 + 7} AS v").collect())
      assert(rec.codegenCompiles >= 1 && rec.codegenMs > 0, rec.json)
      assert(Seq("\"codegen_compiles\":", "\"codegen_ms\":").forall(rec.json.contains), rec.json)
    }

    it("a warm q_scc run compiles at most 5 classes") {
      TempDir("graft_probe") { out =>
        Probe.probe(spark, dir, out, "q_scc").foreach { r =>
          assert(r.construct.codegenCompiles + r.execute.codegenCompiles <= 5, r.json)
        }
      }
    }
  }

  describe("Probe.record") {
    it("keeps two records on one session apart, even behind a lagging listener") {
      // delivery to every later listener waits on this one
      val lag = new SparkListener {
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Thread.sleep(200)
        override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(200)
      }
      spark.sparkContext.addSparkListener(lag)
      val (first, second) = try {
        val (_, first) = Probe.record(spark)(spark.range(1000).selectExpr("sum(id)").collect())
        (first, Probe.record(spark)(())._2)
      } finally spark.sparkContext.removeSparkListener(lag)
      assert(first.jobs.nonEmpty && first.jobs.forall(_.endMs >= 0), first.json)
      assert(first.stages >= 1 && first.plans.nonEmpty, first.json)
      assert(second.jobs.isEmpty && second.stages == 0 && second.tasks == 0 && second.plans.isEmpty,
        second.json)
    }
  }
}
