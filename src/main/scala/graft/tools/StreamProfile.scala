package graft.tools


/** Dev-only profiler for the streaming bench queries: times the phases
  * of q_stream_join_outer (staging reuse, query run, sink read) and
  * dumps per-micro-batch durationMs breakdowns, so harness-floor work
  * is attributed before it is trimmed. Not part of the driver contract. */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val qname = if (args.length > 1) args(1) else "q_stream_join_outer"
    val spark = graft.Session.getOrCreate("graft-streamprofile")
    spark.sparkContext.setLogLevel("WARN")
    // warm
    graft.SparkEntry.queries(qname)(spark, "/root/testdata/sf0.001").count()
    for (i <- 1 to 3) {
      val t0 = System.nanoTime()
      spark.streams.resetTerminated()
      graft.SparkEntry.queries(qname)(spark, sfDir).count()
      println(f"trial $i total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // one more run with a progress listener attached
    val progresses = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit =
        progresses.synchronized { progresses += e.progress }
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(qname)(spark, sfDir).count()
    println(f"listener trial total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    Thread.sleep(500)
    progresses.foreach { p =>
      println(s"batch=${p.batchId} rows=${p.numInputRows} " +
        s"durations=${p.durationMs} " +
        s"state=${p.stateOperators.map(s => s.numRowsTotal).mkString(",")}")
    }
    spark.stop()
  }
}
