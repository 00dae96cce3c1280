package graft.sources

import scala.concurrent.{Await, TimeoutException}
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.graft.PlanBridge
import graft.plans.{PinPartitioningStrategy, SnapshotFacts}

/** Multi-consumer staging: materialize a frame ONCE so several
  * downstream branches (or loop iterations) read a snapshot instead of
  * re-executing the upstream DAG.
  *
  * Two modes, selected by session conf:
  *
  *  - default: `localCheckpoint(eager)` — blocks live in executor
  *    memory/disk, zero external I/O. Right for local runs and
  *    interactive work, but on a real cluster an executor loss mid-query
  *    KILLS the query (localCheckpoint truncates lineage without a
  *    recoverable copy).
  *  - `graft.staging.reliable=true`: a RELIABLE checkpoint to the
  *    Spark checkpoint directory (HDFS/object store) — executor loss
  *    recomputes from the checkpoint instead of failing the query. Set
  *    `graft.staging.dir` (or `SparkContext.setCheckpointDir`) to the
  *    durable location. `graft.staging.dir` binds at a context's first
  *    reliable snapshot: the context keeps that checkpoint dir, and a
  *    later value is ignored. This is the cluster-run switch: same
  *    results (StagingSpec pins result equality on the heaviest
  *    shared-panel query and on every graph loop), different
  *    fault-tolerance contract. Its snapshots hold no blocks, so their
  *    size is unmeasured and every regime gate ([[isLarge]]) picks the
  *    large branch.
  *
  * Three staging primitives, by how much the snapshot TELLS the
  * planner (measured on the sf0.1 graph lane — each works where the
  * cheaper one measurably loses):
  *
  *  - [[snapshot]]: engine-estimated statistics only (Spark 4
  *    propagates the source plan's estimate through the checkpoint).
  *    The default. In job-count-bound loops over SMALL frames this is
  *    also the FASTEST: AQE turns the tiny shuffles into broadcast
  *    reads in-process, cheaper than the driver-side broadcast builds
  *    that exact sizes would trigger statically.
  *  - [[snapshotMeasured]]: + the TRUE materialized byte count from
  *    the block manager ([[graft.plans.SnapshotFacts]] — the same fact
  *    a lakehouse catalog would hold). Use when the frame joins a big
  *    stream side EVERY iteration and the engine estimate is a
  *    join-output blowup: the static broadcast pick then saves a
  *    per-round shuffle + AQE replan (HITS measured −40%).
  *  - [[snapshotKeyed]]: + a pinned `HashPartitioning(keys, n)`
  *    layout. Use for big-frame self-joins and for every loop frame in
  *    the big regime, where co-partitioned joins must not re-exchange.
  *
  * [[snapshotCounted]] is [[snapshot]] plus the snapshot's row count,
  * observed on its own eager job; [[observed]] reads any aggregates off
  * whatever action runs a frame (a write, a collect). Neither adds a job.
  */
object Staging {

  def snapshot(df: DataFrame): DataFrame = rawSnapshot(df)

  /** [[snapshot]] and its row count, observed on the snapshot's own
    * eager job ([[observed]]): counting a stage adds no job. */
  def snapshotCounted(df: DataFrame): (DataFrame, Long) = {
    val (seen, metrics) = observed(df, count(lit(1)))
    val snap = rawSnapshot(seen)
    (snap, metrics().getLong(0))
  }

  /** `df` with `metrics` (aggregates) observed on it, and a reader of
    * the metric row that the first action over the returned frame
    * computes as it runs: a snapshot, a write, a collect. The row
    * comes from that action's own job, so observing adds none; read it
    * after the action. The action's listener event delivers the row
    * asynchronously, and the reader waits for it. It fails instead of
    * waiting without end when no row comes within a minute (no action
    * ran) or the row is empty: the planner pruned the observed node,
    * as it may under a subtree it proved empty, so the action never
    * computed the metrics. */
  def observed(df: DataFrame, metrics: Column*): (DataFrame, () => Row) = {
    val obs = Observation()
    val read = () => {
      val row = try Await.result(obs.future, 1.minute)
        catch { case _: TimeoutException => Row.empty }
      if (row.length == 0) throw new IllegalStateException(
        s"observation ${obs.name}: no metrics (no action ran the frame, or the planner pruned its node)")
      row
    }
    (df.observe(obs, metrics.head, metrics.tail: _*), read)
  }

  /** Plain snapshot + measured-size statistics (see object doc). */
  def snapshotMeasured(df: DataFrame): DataFrame = withFacts(rawSnapshot(df), Nil)

  /** Keyed snapshot for ITERATIVE consumers (graph loops, repeated
    * self-joins): additionally guarantees — and pins through the
    * checkpoint — a `HashPartitioning(keys, shufflePartitions)`
    * layout, so every downstream join/aggregate on the same keys
    * reuses the partitioning instead of re-exchanging the frame. ONE
    * materialization: the frame is checkpointed directly off the
    * `repartition(n, keys)` exchange.
    *
    * WHEN TO USE — the pin only pays when the join's OTHER side can't
    * broadcast. A broadcast join never shuffles the big side, so a
    * pre-arranged layout is worthless there, and the repartition pass
    * this snapshot adds is pure overhead (measured: pinning every
    * graph-loop frame at sf0.1, where label frames are ~2 MB, ran the
    * lane 3× slower). Call sites therefore choose per REGIME:
    * unconditionally for big-frame SELF-joins (both sides are the
    * same frame — never broadcastable), and via [[isLarge]] on the
    * measured label/node frame for message-passing loops — the same
    * query broadcasts at sf0.1 and runs co-partitioned at 100 TB with
    * no code change.
    *
    * Degrades to a plain unpinned snapshot (correct, just re-exchanged)
    * on a session without [[graft.plans.GraftExtensions]]. */
  def snapshotKeyed(df: DataFrame, keys: String*): DataFrame = {
    require(keys.nonEmpty, "snapshotKeyed: at least one key column")
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    withFacts(rawSnapshot(df.repartition(n, keys.map(col): _*)), keys)
  }

  /** The one small/large regime gate, for every device that switches
    * on a snapshot's size (the `Graph` loops, `Profiling.globalRank`,
    * `Dedup.dedupGroups`).
    * True when the eager snapshot `df` is past the pin dial — joins
    * against it will NOT broadcast it, so loops pin their layouts — or
    * when its size is unmeasured (reliable checkpoints hold no blocks):
    * the large branch is the one that is safe at scale.
    *
    * The pin dial defaults to the session broadcast threshold;
    * `graft.staging.pinThreshold` (bytes) overrides it. A
    * broadcast-off session (threshold -1) always reads large. */
  def isLarge(df: DataFrame): Boolean = {
    val conf = df.sparkSession.conf
    val dial = conf.getOption("graft.staging.pinThreshold")
      .getOrElse(conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
      .stripSuffix("b").toLong
    measuredBytes(df).forall(_ > math.max(dial, 0L))
  }

  /** Explicitly free a snapshot's blocks (e.g. after re-keying it into
    * a pinned copy). The frame must not be used afterwards — a local
    * checkpoint cannot be recomputed. */
  def release(df: DataFrame): Unit =
    PlanBridge.logicalPlan(df).collectFirst { case l: LogicalRDD => l.rdd }
      .foreach(_.unpersist(blocking = false))

  /** Runs `body`, then frees every RDD persisted while it ran — the
    * snapshots above, and any `persist`/`cache` — with a blocking
    * `unpersist`, also when `body` throws. A snapshot otherwise lives
    * until ContextCleaner notices its frame is unreachable, which waits
    * for the JVM to collect the frame: in r13 the bench's `q_hits` (7
    * eager snapshot jobs per trial) churned blocks faster than
    * GC-driven cleanup freed them and recorded 5.74 s against a ~2.0 s
    * steady state.
    * Every entry point wraps its unit of work in this scope: each
    * Bench trial and warm-up run, each Probe run, each Verify write,
    * and each `Pipelines` main, so a reused session keeps no blocks.
    *
    * The scope frees EVERY RDD persisted meanwhile, whoever persisted
    * it, so it is for a session with no concurrent caller; a frame
    * staged inside must not be used after it ends. Reliable-mode
    * (`graft.staging.reliable=true`) checkpoint files are not blocks
    * and stay where they were written. */
  def scoped[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally sc.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!before.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  /** Attach measured size (and, for non-empty `keys`, the layout pin)
    * to an eager snapshot. No-op without the extension or when the
    * blocks aren't in the block manager (reliable-checkpoint mode). */
  private def withFacts(snapped: DataFrame, keys: Seq[String]): DataFrame = {
    if (!pinInstalled(snapped)) return snapped
    val measured = measuredBytes(snapped)
    if (keys.isEmpty && measured.isEmpty) return snapped
    val plan = PlanBridge.logicalPlan(snapped)
    val attrs = keys.map { k =>
      plan.output.find(_.name == k).getOrElse(throw new IllegalArgumentException(
        s"snapshotKeyed: key '$k' not among ${plan.output.map(_.name).mkString(", ")}"))
    }
    val n = snapped.sparkSession.sessionState.conf.numShufflePartitions
    PlanBridge.ofRows(snapped, SnapshotFacts(attrs, n, measured, plan))
  }

  /** True materialized bytes of an eager snapshot, from the block
    * manager (mem + disk). None when untracked (reliable checkpoints
    * don't persist; block reports can lag a kill). */
  private def measuredBytes(snapped: DataFrame): Option[BigInt] =
    PlanBridge.logicalPlan(snapped).collectFirst { case l: LogicalRDD => l.rdd.id }
      .flatMap { id =>
        snapped.sparkSession.sparkContext.getRDDStorageInfo
          .find(_.id == id).map(i => BigInt(i.memSize + i.diskSize))
      }

  private def pinInstalled(df: DataFrame): Boolean =
    df.sparkSession.sessionState.planner.strategies
      .exists(_.isInstanceOf[PinPartitioningStrategy])

  private def rawSnapshot(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val reliable =
      spark.conf.getOption("graft.staging.reliable").exists(_.toBoolean)
    if (!reliable) df.localCheckpoint(eager = true)
    else {
      val sc = spark.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        spark.conf.getOption("graft.staging.dir") match {
          case Some(dir) => sc.setCheckpointDir(dir)
          case None => throw new IllegalStateException(
            "graft.staging.reliable=true needs a checkpoint dir: set " +
              "graft.staging.dir or SparkContext.setCheckpointDir")
        }
      df.checkpoint(eager = true)
    }
  }

  /** `.snapshot()` postfix form so staging points read like the
    * `.localCheckpoint(true)` calls they replace. */
  implicit class Snapshottable(private val df: DataFrame) extends AnyVal {
    def snapshot(): DataFrame = Staging.snapshot(df)
    def snapshotCounted(): (DataFrame, Long) = Staging.snapshotCounted(df)
    def snapshotKeyed(keys: String*): DataFrame = Staging.snapshotKeyed(df, keys: _*)
  }
}
