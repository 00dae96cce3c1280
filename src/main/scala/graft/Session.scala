package graft

import java.net.URLClassLoader
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, SparkPlugin}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.PlanBridge
import graft.plans.{GraftExtensions, PinPartitioningStrategy}
import graft.sources.LocalFs

/** The one way graft gets a session. Every main (the pipelines,
  * [[Verify]], [[Bench]], the tools) and the test suite
  * call [[getOrCreate]]; a session built elsewhere (spark-submit, a
  * library user's notebook) gets the same confs and natives through
  * [[install]].
  *
  * The master is a deployment setting: the `spark.master` system
  * property (spark-submit sets it), else `local[$SPARK_GRAFT_CPUS]`,
  * else `local[*]`. */
object Session {

  /** Runtime SQL confs graft's plans and results depend on. */
  private val sqlConfs: Map[String, String] = Map(
    "spark.sql.session.timeZone" -> "UTC",
    // subset co-partitioning (both join children hashed on the SAME
    // subset of join keys) is what the blocked pair join relies on —
    // the bucketed-join dial
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "true",
    // events.parquet carries TIMESTAMP(NANOS); Adapters.ticks converts
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")

  /** The active (or default) session with [[install]] applied, or a new
    * one. A new context runs `spark.sql.shuffle.partitions` at the
    * master's parallelism, in this session and every `newSession()` of
    * it, unless `-D`/`--conf` set it. */
  def getOrCreate(appName: String): SparkSession =
    install(SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .getOrElse(build(appName)))

  /** Idempotent: sets [[sqlConfs]] and [[LocalFs]]'s Hadoop keys, and
    * registers the native function table and [[PinPartitioningStrategy]]
    * where missing. Never touches the master or the shuffle-partition
    * count. A `file:` FileSystem the JVM has already cached keeps its
    * class; [[build]] sets the keys before the context starts. */
  def install(spark: SparkSession): SparkSession = {
    sqlConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    LocalFs.hadoopConfs.foreach { case (k, v) => spark.sparkContext.hadoopConfiguration.set(k, v) }
    val registry = spark.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    if (!spark.sessionState.planner.strategies.exists(_.isInstanceOf[PinPartitioningStrategy]))
      spark.experimental.extraStrategies :+= new PinPartitioningStrategy
    spark
  }

  /** Runs `body` with each `(key, value)` set on the session, then
    * restores each key's prior value, or unsets the key if it had none. */
  def withConf[T](spark: SparkSession, confs: (String, String)*)(body: => T): T = {
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Contexts built here share one codegen cache per JVM: with artifact
    * isolation off (graft sessions add no artifacts) tasks run under the
    * executor's default loader, and [[SharedCodegen]] moves them to its
    * parent. */
  private def build(appName: String): SparkSession = {
    val master = sys.props.get("spark.master")
      .orElse(sys.env.get("SPARK_GRAFT_CPUS").map(n => s"local[$n]"))
      .getOrElse("local[*]")
    val plugins = sys.props.get("spark.plugins").toSeq :+ classOf[SharedCodegen].getName
    val spark = SparkSession.builder()
      .appName(appName)
      .master(master)
      .config(sqlConfs)
      .config(LocalFs.hadoopConfs.map { case (k, v) => s"spark.hadoop.$k" -> v })
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config("spark.ui.enabled", "false")
      // each aggregation task takes a Tungsten page; Spark sizes it from
      // heap / cores (64 MB at 8g and 4 cores), most of a drain's heap
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.plugins", plugins.mkString(","))
      .getOrCreate()
    // set where this session and every `newSession()` of it read it
    val partitions = "spark.sql.shuffle.partitions"
    if (!spark.sparkContext.getConf.contains(partitions)) {
      val n = spark.sparkContext.defaultParallelism.toString
      PlanBridge.sharedConf(spark).set(partitions, n)
      spark.conf.set(partitions, n)
    }
    spark
  }
}

/** Spark keys its codegen cache by (the thread's context loader,
  * source), and each executor gives its task threads a new loader, so
  * every context compiles again what the JVM already holds. A task
  * whose loader is a `URLClassLoader` with no URLs (it defines no class)
  * runs under that loader's parent instead: in local mode the loader
  * the driver compiles under. A task with jars or a REPL loader keeps
  * its own. */
final class SharedCodegen extends SparkPlugin {
  def driverPlugin(): DriverPlugin = null
  def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    override def onTaskStart(): Unit = {
      val t = Thread.currentThread
      t.setContextClassLoader(SharedCodegen.loaderFor(t.getContextClassLoader))
    }
  }
}

object SharedCodegen {
  def loaderFor(l: ClassLoader): ClassLoader = l match {
    case u: URLClassLoader if u.getURLs.isEmpty && u.getParent != null => u.getParent
    case other => other
  }
}
