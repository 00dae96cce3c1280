package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Driver-job dissection for job-count-bound queries (the graph
  * loops): runs a named registry query once warm and once measured,
  * and reports how many Spark JOBS the measured run submitted, their
  * individual wall times, and the gap between total job wall and
  * query wall (pure driver think time: planning, optimizing,
  * checkpoint bookkeeping between jobs). This is the tool that tells
  * "shave the plan" apart from "the job floor is reached": if
  * `n_jobs x median-job-latency ≈ query wall`, the remaining cost is
  * scheduling, not data movement.
  *
  * `SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.JobProbe q_scc"` */
object JobProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobProbe <query> [sfDir]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = graft.Session.getOrCreate("graft-jobprobe")
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm: marts, codegen, JIT
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val durations = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Long]())
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        starts.put(js.jobId, js.time)
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val s = starts.get(je.jobId)
        if (s > 0) durations.add(je.time - s)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // Flush any straggling warm-run events through the async bus,
    // then reset the capture so the count covers the timed run ONLY
    // (a lingering cleanup/broadcast job from the warm pass otherwise
    // lands in the tally on some runs and not others).
    //
    // Residual ±1 on n_jobs across runs is NOT event loss: AQE
    // materializes sibling query stages concurrently, and whether a
    // repeated exchange subtree gets REUSED (0 extra jobs) or
    // re-materialized (1 extra) depends on which stage finishes
    // planning first — a benign scheduler race. Compare job counts
    // at ±1 tolerance; job_wall_sum/driver_gap are the real signals.
    Thread.sleep(600)
    starts.clear(); durations.clear()
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    // The listener bus is async (and private API): poll until the
    // duration count is stable across two consecutive checks (or a
    // 10 s ceiling) instead of a fixed sleep, so tail job-end events
    // on a loaded host are never dropped from the count.
    val drainDeadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    var prevSize = -1
    while (prevSize != durations.size() && System.nanoTime() < drainDeadline) {
      prevSize = durations.size()
      Thread.sleep(200)
    }
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val ds = durations.asScala.map(_.toDouble / 1000).toSeq.sorted
    val jobWall = ds.sum
    val median = if (ds.isEmpty) 0.0 else ds(ds.size / 2)
    println(f"[jobprobe] $name wall=$wall%.2f s jobs=${ds.size} " +
      f"job_wall_sum=$jobWall%.2f s median_job=${median}%.3f s " +
      f"p90_job=${if (ds.isEmpty) 0.0 else ds((ds.size * 9) / 10)}%.3f s " +
      f"driver_gap=${wall - jobWall}%.2f s")
    spark.stop()
  }
}
