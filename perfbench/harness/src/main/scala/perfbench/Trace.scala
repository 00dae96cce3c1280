package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** What the traced run's listeners saw since the last [[Trace.drain]].
  * The listeners join every session the program builds through the
  * `spark.extraListeners` and `spark.sql.streaming.streamingQueryListeners`
  * system properties, so the program runs unchanged. Every main stops
  * its own context, which flushes the listener bus, so once a pass
  * returns its events are all here. Job and stage ids restart with each
  * context; `ctx` tells the contexts of a pass apart. */
object Trace {
  final class Context(val id: Int, val readyMs: Long) { var endMs = -1L }
  final class Job(val ctx: Int, val id: Int, val startMs: Long, val stageIds: Seq[Int],
                  val execId: Option[Long], val streaming: Boolean, val site: String) {
    var endMs = -1L
  }
  final class Exec(val ctx: Int, val id: Long, val startMs: Long, val site: String,
                   val description: String) {
    var endMs = -1L
    val metricNames = mutable.Map.empty[Long, String]
    val driverMetrics = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }
  final class Stage {
    var tasks = 0; var runMs = 0L; var gcMs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }
  final class Query(val runId: String, val startedIso: String) {
    val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  }
  final case class Events(contexts: Seq[Context], jobs: Seq[Job], execs: Seq[Exec],
                          stages: Map[(Int, Int), Stage], queries: Seq[Query])

  private var nextCtx = 0
  private var contexts = mutable.ArrayBuffer.empty[Context]
  private var jobs = mutable.ArrayBuffer.empty[Job]
  private var execs = mutable.LinkedHashMap.empty[(Int, Long), Exec]
  private var stages = mutable.Map.empty[(Int, Int), Stage]
  private var queries = mutable.LinkedHashMap.empty[String, Query]

  def newContext(): Int = synchronized {
    val c = new Context(nextCtx, System.currentTimeMillis())
    contexts += c
    nextCtx += 1
    c.id
  }

  def drain(): Events = synchronized {
    val e = Events(contexts.toSeq, jobs.toSeq, execs.values.toSeq, stages.toMap, queries.values.toSeq)
    contexts = mutable.ArrayBuffer.empty; jobs = mutable.ArrayBuffer.empty
    execs = mutable.LinkedHashMap.empty; stages = mutable.Map.empty
    queries = mutable.LinkedHashMap.empty
    e
  }

  private[perfbench] def contextEnded(ctx: Int, ms: Long): Unit = synchronized {
    contexts.find(_.id == ctx).foreach(_.endMs = ms)
  }
  private[perfbench] def jobStarted(j: Job): Unit = synchronized { jobs += j }
  private[perfbench] def jobEnded(ctx: Int, id: Int, ms: Long): Unit = synchronized {
    jobs.find(j => j.ctx == ctx && j.id == id).foreach(_.endMs = ms)
  }
  private[perfbench] def taskEnded(ctx: Int, e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate((ctx, e.stageId), new Stage)
    s.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
    }
  }
  private[perfbench] def execStarted(x: Exec, plan: SparkPlanInfo): Unit = synchronized {
    execs((x.ctx, x.id)) = x
    planMetrics(x, plan)
  }
  private[perfbench] def execPlan(ctx: Int, id: Long, plan: SparkPlanInfo): Unit = synchronized {
    execs.get((ctx, id)).foreach(planMetrics(_, plan))
  }
  private def planMetrics(x: Exec, plan: SparkPlanInfo): Unit = {
    plan.metrics.foreach(m => x.metricNames(m.accumulatorId) = m.name)
    plan.children.foreach(planMetrics(x, _))
  }
  private[perfbench] def execEnded(ctx: Int, id: Long, ms: Long): Unit = synchronized {
    execs.get((ctx, id)).foreach(_.endMs = ms)
  }
  private[perfbench] def driverMetrics(ctx: Int, id: Long, updates: Seq[(Long, Long)]): Unit =
    synchronized {
      execs.get((ctx, id)).foreach { x =>
        updates.foreach { case (acc, v) => x.metricNames.get(acc).foreach(n => x.driverMetrics(n) += v) }
      }
    }
  private[perfbench] def queryStarted(runId: String, iso: String): Unit = synchronized {
    queries(runId) = new Query(runId, iso)
  }
  private[perfbench] def queryProgress(p: StreamingQueryProgress): Unit = synchronized {
    queries.getOrElseUpdate(p.runId.toString, new Query(p.runId.toString, p.timestamp)).progress += p
  }
}

/** Job, stage, task and SQL-execution events of one SparkContext. */
class JobTracer extends SparkListener {
  private val ctx = Trace.newContext()

  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = Trace.contextEnded(ctx, e.time)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    Trace.jobStarted(new Trace.Job(ctx, e.jobId, e.time, e.stageIds,
      prop("spark.sql.execution.id").map(_.toLong),
      prop("sql.streaming.queryId").isDefined,
      e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.jobEnded(ctx, e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.taskEnded(ctx, e)

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      Trace.execStarted(new Trace.Exec(ctx, e.executionId, e.time, e.details, e.description),
        e.sparkPlanInfo)
    case e: SparkListenerSQLAdaptiveExecutionUpdate => Trace.execPlan(ctx, e.executionId, e.sparkPlanInfo)
    case e: SparkListenerDriverAccumUpdates => Trace.driverMetrics(ctx, e.executionId, e.accumUpdates)
    case e: SparkListenerSQLExecutionEnd => Trace.execEnded(ctx, e.executionId, e.time)
    case _ =>
  }
}

/** `StreamingQueryProgress` of every micro-batch. */
class StreamTracer extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = Trace.queryStarted(e.runId.toString, e.timestamp)
  override def onQueryProgress(e: QueryProgressEvent): Unit = Trace.queryProgress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
