package graft.tools

import graft.operators.Dedup
import graft.sources.Tables

/** Ad-hoc profiler (not part of the driver contract):
  *   runMain graft.tools.Profile <sfDir>              — the dedup lanes
  *   runMain graft.tools.Profile <sfDir> q_a q_b ...  — named registry
  *     queries, 3 timed reps each after a warm-up rep */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val named = args.drop(1).toSeq
    val spark = graft.Session.getOrCreate("graft-profile")
    spark.sparkContext.setLogLevel("WARN")

    // Execution-shape counters (jobs/stages/task-time/shuffle volume):
    // wall time says WHETHER a variant regressed, these say WHY — more
    // jobs (driver round trips), more shuffled bytes, or more task work.
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val shufW = new java.util.concurrent.atomic.AtomicLong
    val shufR = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        taskMs.addAndGet(s.stageInfo.taskMetrics.executorRunTime)
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
        shufR.addAndGet(s.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead)
      }
    })

    def time(label: String)(f: => Long): Unit = {
      val (j0, s0, t0m, w0, r0) = (jobs.get, stages.get, taskMs.get, shufW.get, shufR.get)
      val t0 = System.nanoTime()
      val n = f
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(150) // let stage-completed events drain
      println(f"[profile] $label%-30s $dt%8.2f s  rows=$n  " +
        f"jobs=${jobs.get - j0} stages=${stages.get - s0} " +
        f"taskSec=${(taskMs.get - t0m) / 1e3}%.1f " +
        f"shufW=${(shufW.get - w0) / 1e6}%.1fMB shufR=${(shufR.get - r0) / 1e6}%.1fMB")
    }

    if (named.nonEmpty) {
      named.foreach { q =>
        graft.SparkEntry.queries(q)(spark, dir).count() // warm
        (1 to 3).foreach(rep => time(s"$q #$rep")(
          graft.SparkEntry.queries(q)(spark, dir).count()))
      }
      spark.stop()
      return
    }

    val docs = Tables.documents(spark, dir)
    docs.count() // warm scan

    for (rep <- 1 to 2) {
      time(s"minhash FULL #$rep")(Dedup.minhashLshPairs(docs, "doc_id", "text").count())
      time(s"ngram prefix FULL #$rep")(Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text").count())
      time(s"ngram plain FULL #$rep")(Dedup.ngramJaccardPairs(docs, "doc_id", "text").count())
      time(s"simhash FULL #$rep")(Dedup.simhashPairs(docs, "doc_id", "text").count())
    }
    spark.stop()
  }
}
