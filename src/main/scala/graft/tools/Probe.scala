package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.{Session, SparkEntry}
import graft.sources.Staging

/** Where a registry query's time goes, layer by layer:
  *
  *   runMain graft.tools.Probe <sfDir> <outDir> <q…|all>
  *
  * Each query runs once warm, then [[Runs]] recorded times. A run is
  * two [[record]]s: construct (the registry function — eager
  * snapshots, regime probes, and the micro-batches of the streaming
  * lanes, which drain their query while building the frame) and
  * execute (`count()`). Each run prints one JSON line and appends it
  * to `<outDir>/layers.jsonl`; the formatted plan the last run's
  * `count()` executed (with AQE, its final plan) goes to
  * `<outDir>/<q>.plan.txt`. */
object Probe {
  val Runs = 3

  /** `endMs` is -1 for a job whose end event never arrived. */
  final case class Job(startMs: Long, endMs: Long)
  final case class Batch(id: Long, rows: Long, durationsMs: Map[String, Long], stateRows: Long,
                         stateCommitMs: Long, stateStores: Long)

  /** What Spark reported while one [[record]] body ran. `plans` holds
    * the physical plan of every SQL execution, in start order: a
    * Dataset action's as it ran (formatted; with AQE, the final plan),
    * any other's as it started.
    * `codegenCompiles` and `codegenMs` count the JVM's generated-class
    * compiles (driver and tasks) and their time. */
  final case class Record(wallS: Double, jobs: Seq[Job], stages: Long, tasks: Long,
                          taskS: Double, gcS: Double, shuffleReadMb: Double,
                          shuffleWriteMb: Double, spillMb: Double,
                          plans: Seq[String], batches: Seq[Batch],
                          codegenCompiles: Long, codegenMs: Double) {
    /** Wall time no job covered: planning and driver work between jobs. */
    def driverGapS: Double = wallS - jobs.map(j => (j.startMs, math.max(j.startMs, j.endMs)))
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        (sum + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1 / 1000.0

    def json: String = {
      val walls = jobs.filter(_.endMs >= 0).map(j => (j.endMs - j.startMs) / 1000.0).sorted
      def at(i: Int) = if (walls.isEmpty) 0.0 else walls(i)
      val bs = batches.map { b =>
        val ds = b.durationsMs.toSeq.sorted.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        s"""{"id":${b.id},"rows":${b.rows},"state_rows":${b.stateRows},""" +
          s""""state_commit_ms":${b.stateCommitMs},"state_stores":${b.stateStores},"durations_ms":$ds}"""
      }.mkString("[", ",", "]")
      s"""{"wall_s":${r3(wallS)},"jobs":${jobs.size},"job_median_s":${r3(at(walls.size / 2))},""" +
        s""""job_p90_s":${r3(at(walls.size * 9 / 10))},"driver_gap_s":${r3(driverGapS)},""" +
        s""""stages":$stages,"tasks":$tasks,"task_s":${r3(taskS)},"gc_s":${r3(gcS)},""" +
        s""""shuffle_read_mb":${r3(shuffleReadMb)},"shuffle_write_mb":${r3(shuffleWriteMb)},""" +
        s""""spill_mb":${r3(spillMb)},"executions":${plans.size},""" +
        s""""codegen_compiles":$codegenCompiles,"codegen_ms":${r3(codegenMs)},"batches":$bs}"""
    }
  }

  final case class Run(query: String, run: Int, construct: Record, execute: Record) {
    def json: String =
      s"""{"query":"$query","run":$run,"construct":${construct.json},"execute":${execute.json}}"""
  }

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000
  private val MB = 1024.0 * 1024.0

  /** The listener pair one [[record]] registers: jobs, stages and SQL
    * executions from the context's bus, micro-batch progress from the
    * session's streaming bus. Both buses call from their own threads. */
  private final class Listeners extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private var stages, tasks, runMs, gcMs, readBytes, writeBytes, spillBytes = 0L
    private val plans = mutable.LinkedHashMap.empty[Long, String]
    private val batches = mutable.ArrayBuffer.empty[Batch]

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { jobs(e.jobId) = Job(e.time, -1L) }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      synchronized { jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      tasks += e.stageInfo.numTasks
      Option(e.stageInfo.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        gcMs += m.jvmGCTime
        readBytes += m.shuffleReadMetrics.totalBytesRead
        writeBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.diskBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { plans(s.executionId) = s.physicalPlanDescription }
      // the start plan reads `isFinalPlan=false`; an action's end carries the plan it ran
      case e: SparkListenerSQLExecutionEnd => PlanBridge.executedPlan(e).foreach { plan =>
        synchronized { if (plans.contains(e.executionId)) plans(e.executionId) = plan }
      }
      case _ =>
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      import StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = Listeners.this.synchronized {
        val p = e.progress
        val ops = p.stateOperators
        batches += Batch(p.batchId, p.numInputRows,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.numRowsTotal).sum, ops.map(_.commitTimeMs).sum,
          ops.map(_.numStateStoreInstances.toLong).sum)
      }
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }

    def result(wallS: Double, compiles: Long, compileMs: Double): Record = synchronized {
      Record(wallS, jobs.values.toSeq, stages, tasks, runMs / 1000.0, gcMs / 1000.0,
        readBytes / MB, writeBytes / MB, spillBytes / MB, plans.values.toSeq, batches.toSeq,
        compiles, compileMs)
    }
  }

  /** Runs `body` with a fresh listener pair registered, and returns its
    * result with what Spark reported meanwhile. The bus is flushed
    * before registering and again before reading, so a record holds
    * all of its body's events and none of another's. */
  def record[A](spark: SparkSession)(body: => A): (A, Record) = {
    PlanBridge.drainListenerBus(spark)
    val ls = new Listeners
    spark.sparkContext.addSparkListener(ls)
    spark.streams.addListener(ls.streams)
    try {
      val (c0, cNs0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      val t0 = System.nanoTime()
      val out = body
      val wallS = (System.nanoTime() - t0) / 1e9
      val (c1, cNs1) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)
      PlanBridge.drainListenerBus(spark)
      (out, ls.result(wallS, c1 - c0, (cNs1 - cNs0) / 1e6))
    } finally {
      spark.streams.removeListener(ls.streams)
      spark.sparkContext.removeSparkListener(ls)
    }
  }

  /** Runs registry query `q` once warm and [[Runs]] recorded times,
    * appends each run's line to `<outDir>/layers.jsonl` and writes the
    * plan the last run's `count()` executed. Each run, the warm one
    * too, is a [[Staging.scoped]] scope, so every run starts from the
    * same storage state. */
  def probe(spark: SparkSession, sfDir: String, outDir: String, q: String): Seq[Run] = {
    val fn = SparkEntry.queries(q)
    Files.createDirectories(Paths.get(outDir))
    Staging.scoped(spark)(fn(spark, sfDir).count())
    (1 to Runs).map { i =>
      val run = Staging.scoped(spark) {
        val (df, construct) = record(spark)(fn(spark, sfDir))
        val (_, execute) = record(spark)(df.count())
        execute.plans.lastOption.foreach(plan => // the last run's stays
          Files.write(Paths.get(outDir, s"$q.plan.txt"), plan.getBytes(UTF_8)))
        Run(q, i, construct, execute)
      }
      Files.write(Paths.get(outDir, "layers.jsonl"), (run.json + "\n").getBytes(UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      run
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Probe <sfDir> <outDir> <q…|all>")
    val names = if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted else args.drop(2).toSeq
    val spark = Session.getOrCreate("graft-probe")
    spark.sparkContext.setLogLevel("WARN")
    names.foreach(q => probe(spark, args(0), args(1), q).foreach(r => println(r.json)))
    spark.stop()
  }
}
