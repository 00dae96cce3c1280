package org.apache.spark.sql.graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** `private[sql]` bridge (the standard extension-library shim — the
  * same door Delta/Iceberg/Hudi open): build a DataFrame from a raw
  * [[LogicalPlan]], and read one back. Needed by
  * [[graft.sources.Staging.snapshotKeyed]] to wrap a checkpointed
  * frame in [[graft.plans.PinHashPartitioning]] — there is no public
  * Dataset API that attaches a custom logical node — and by
  * [[graft.tools.Probe]] to flush the listener bus and read the plan
  * an execution ran, and by
  * [[graft.Session]] to set the conf new sessions start from. Nothing
  * else in the repo goes through this package. */
object PlanBridge {

  def logicalPlan(df: DataFrame): LogicalPlan =
    df.asInstanceOf[CDataset[Row]].logicalPlan

  def ofRows(df: DataFrame, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(df.sparkSession.asInstanceOf[CSparkSession], plan)

  /** Blocks until every event posted so far reached every listener,
    * streaming-query listeners included (their bus listens on this one). */
  def drainListenerBus(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The formatted plan a Dataset action's execution ran (with AQE, its
    * final plan); None for an execution no action started. */
  def executedPlan(e: SparkListenerSQLExecutionEnd): Option[String] =
    Option(e.qe).map(_.explainString(FormattedMode))

  /** The context-wide conf every `newSession()` of `spark` starts from. */
  def sharedConf(spark: SparkSession): SparkConf = spark.asInstanceOf[CSparkSession].sharedState.conf
}
