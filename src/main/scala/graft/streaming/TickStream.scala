package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, Trigger}
import org.apache.spark.sql.Row
import graft.operators.TickAnalytics
import graft.sources.Schemas
import graft.sources.Schemas.Tick
import graft.sources.Staging.Snapshottable

/** Structured Streaming form of the realtime lane.
  *
  * The reference emulates streaming with a 30-minute Airflow loop that
  * re-reads the ENTIRE raw prefix and recomputes every window
  * (spark_stream_batch_processor.py:36-37, stock_market_stream_dag.py:25)
  * — O(history) work per run, no late-data policy. This is the same
  * logical computation as incremental Structured Streaming:
  *
  *   - one shared aggregation core ([[TickAnalytics.windowAggregates]])
  *     is used by BOTH the batch recompute (exact reference semantics,
  *     used for golden tests) and this watermarked streaming job —
  *     SURVEY §7.4 risk 6;
  *   - `withWatermark` bounds state: windows finalize and are evicted
  *     `watermark` after their end, giving a defined late-data policy
  *     where the reference had implicit full-recompute semantics;
  *   - append output mode + checkpointing makes the parquet sink
  *     exactly-once per window instead of the reference's duplicate
  *     windows across runs (SURVEY §2.8).
  *
  * At scale: state lives in Spark's in-heap state store keyed by
  * (symbol, window); tumbling windows mean one state row per key, and
  * partial aggregation happens before the shuffle, so the stateful
  * stage sees pre-reduced rows, not raw ticks.
  */
object TickStream {

  /** Session conf key an AvailableNow drain sets to `true` before it
    * starts. The state stays in Spark's default in-heap HDFS-backed
    * store: it is one row per (symbol, open window), bounded by
    * symbols × (watermark / window + 1). With this key each commit
    * runs the store's maintenance before the task ends: a `.snapshot`
    * every `minDeltasForSnapshot` (10) deltas, and files older than
    * `minBatchesToRetain` deleted. A seconds-long drain never reaches
    * the background maintenance thread (first run after
    * `maintenanceInterval`, 60 s), so without it a restart would
    * replay every delta since batch 0 and the checkpoint would only
    * grow. A checkpoint keeps the provider its offset log records. */
  val unloadOnCommit = "spark.sql.streaming.stateStore.unloadOnCommit"

  /** Existence check through the Hadoop FileSystem API, so the upsert
    * sinks see the table on ANY supported scheme (file://, hdfs://,
    * s3a://, ...). A `java.io.File` check would be always-false off the
    * local filesystem and the sink would silently OVERWRITE instead of
    * merge — on object storage, exactly where a 100 TB table lives. */
  private[graft] def tableExists(spark: SparkSession, tablePath: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(tablePath)
    val conf = spark.sessionState.newHadoopConf()
    path.getFileSystem(conf).exists(path)
  }

  /** readStream over the raw CSV landing zone (same layout/schema as
    * the batch reader — S1's streaming twin). `maxFilesPerTrigger`
    * bounds micro-batch size for backpressure. */
  def rawTickStream(spark: SparkSession, path: String,
                    maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream
      .schema(Schemas.rawTick)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .csv(path)

  /** Watermarked 15-minute window aggregation over a (streaming or
    * batch) canonical tick frame. */
  def windowed(ticks: DataFrame, duration: String = "15 minutes",
               watermark: String = "30 minutes"): DataFrame =
    TickAnalytics.windowAggregates(
      ticks.withWatermark("event_time", watermark), duration)

  /** [[windowed]] with the exact fixed-point aggregation
    * ([[TickAnalytics.windowAggregatesExact]]): partial state is three
    * longs per window, bit-stable across micro-batch boundaries — the
    * streaming twin of the batch query the oracle checks. */
  def windowedExact(ticks: DataFrame, duration: String = "15 minutes",
                    watermark: String = "30 minutes"): DataFrame =
    TickAnalytics.windowAggregatesExact(
      ticks.withWatermark("event_time", watermark), duration)

  /** Complete-mode snapshot sink: every trigger overwrites `tablePath`
    * with the full refreshed aggregate. The parquet FILE sink only
    * supports append, and append-mode aggregation can never emit the
    * windows still inside the watermark when the stream drains — so a
    * snapshot query (a mart the reference recomputes per batch) goes
    * through foreachBatch + overwrite instead. State is O(open
    * windows); for unbounded-key aggregations at scale, prefer the
    * update-mode [[upsertSink]] which bounds the rewrite to touched
    * keys. */
  def snapshotSink(agg: DataFrame, tablePath: String,
                   checkpoint: String): DataStreamWriter[Row] =
    agg.writeStream
      .outputMode("complete")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("overwrite").parquet(tablePath)
      }

  /** Streaming exact dedup: drops repeated (symbol, event_time) rows
    * with state bounded by the watermark — the streaming twin of the
    * batch keep-first dedup (P10 / Dedup.keepFirst). */
  def dedupedTicks(ticks: DataFrame, watermark: String = "30 minutes"): DataFrame =
    ticks.withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("symbol", "event_time")

  /** Cumulative per-symbol stats emitted every micro-batch. */
  case class SymbolStats(symbol: String, n_ticks: Long, volume: Long,
                         vwap: Double, last_price: Double)
  case class CumState(n: Long, vol: Long, pv100: Long,
                              lastTs: Long, last: Double)

  /** Custom keyed state via mapGroupsWithState (§2.8 "stateful ops" —
    * absent from the reference, present here as the idiomatic Spark
    * escape hatch when windows can't express the state machine).
    * Keeps one tiny record per symbol; price·volume accumulates in
    * exact fixed-point (see Funcs.scaled rationale). Update output
    * mode: each trigger emits the refreshed cumulative row per key
    * seen in that batch.
    */
  def runningStats(ticks: Dataset[Tick]): Dataset[SymbolStats] = {
    import ticks.sparkSession.implicits._
    ticks.groupByKey(_.symbol)
      .mapGroupsWithState[CumState, SymbolStats](GroupStateTimeout.NoTimeout) {
        (symbol: String, rows: Iterator[Tick], state: GroupState[CumState]) =>
          val prev = state.getOption.getOrElse(CumState(0L, 0L, 0L, Long.MinValue, 0.0))
          // group iterators have no order guarantee — "last" follows
          // the max event_time, not iteration order
          val next = rows.foldLeft(prev) { (s, t) =>
            val ts = t.event_time.getTime
            val (nt, np) = if (ts >= s.lastTs) (ts, t.price) else (s.lastTs, s.last)
            CumState(s.n + 1, s.vol + t.volume,
              s.pv100 + math.round(t.price * 100) * t.volume, nt, np)
          }
          state.update(next)
          SymbolStats(symbol, next.n, next.vol,
            if (next.vol == 0) 0.0 else next.pv100 / 100.0 / next.vol, next.last)
      }
  }

  /** foreachBatch merge-upsert sink: each micro-batch upserts into a
    * parquet "warehouse" table keyed like the reference's Snowflake
    * MERGE (S6/S7) — but as one distributed merge per batch instead of
    * a round-trip per row. Idempotent under micro-batch replay: the
    * merge keeps the max-version row per key, so reprocessing a batch
    * converges to the same table. Proven by StreamingSpec's
    * exactly-once restart cases: a completed-checkpoint restart is a
    * no-op, and a crash between sink write and commit-log write (the
    * replay window) re-executes the batch with an identical result.
    *
    * CONTRACT: this unpartitioned form re-reads and rewrites the WHOLE
    * table every trigger — O(table) per micro-batch. It is only for
    * small control/dimension tables; for a fact table keyed by a
    * date-like column use [[upsertSinkPartitioned]], whose per-trigger
    * cost is O(affected partitions).
    */
  def upsertSink(updates: DataFrame, tablePath: String, checkpoint: String,
                 keys: Seq[String], versionCol: String): DataStreamWriter[Row] = {
    // once batch 0 has swapped a table in, later micro-batches of THIS
    // run can skip the filesystem existence probe (restarts re-probe:
    // a fresh closure is built per query start)
    var tableWritten = false
    updates.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val existing =
          if (tableWritten || tableExists(spark, tablePath)) spark.read.parquet(tablePath)
          else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], batch.schema)
        val merged = graft.operators.MergeUpsert
          .mergeUpsert(existing, batch, keys, versionCol)
        // stage-then-swap: parquet can't be read and overwritten in
        // place, so write the merge to a staging dir and SWAP it in
        // with a filesystem rename — one write job per trigger instead
        // of write + read-back + rewrite (the read-back variant paid a
        // second full Spark job per micro-batch for nothing). The
        // delete→rename window is no wider than mode("overwrite")'s own
        // delete→write; a crash inside either is healed by the
        // checkpoint replaying the batch (merge is idempotent).
        val conf = spark.sparkContext.hadoopConfiguration
        val tmp = new org.apache.hadoop.fs.Path(tablePath + "__staged")
        val dst = new org.apache.hadoop.fs.Path(tablePath)
        // coalesce(1): the documented contract above restricts this sink
        // to small control/dimension tables, so one write task + one
        // output file beats shuffle-partition-many ~empty files (and the
        // next batch's read-back lists a single file)
        merged.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val fs = dst.getFileSystem(conf)
        if (fs.exists(dst)) fs.delete(dst, true)
        require(fs.rename(tmp, dst), s"upsertSink: rename $tmp -> $dst failed")
        tableWritten = true
      }
  }

  /** Partition-pruned merge-upsert sink — the scale form of
    * [[upsertSink]]. The table is laid out by `partitionCol` (a
    * date-like bucket); each micro-batch:
    *
    *   1. collects the batch's distinct partition values (tiny:
    *      bounded by partitions-per-trigger, not rows),
    *   2. reads ONLY those partition directories of the existing table
    *      (`isin` prunes at the file index — unaffected history is
    *      never opened),
    *   3. merges keep-max-version per key and materializes the result
    *      (localCheckpoint) to break the read→overwrite cycle,
    *   4. rewrites JUST those directories via dynamic partition
    *      overwrite — untouched partitions keep their files.
    *
    * Per-trigger cost is O(data in affected partitions). Same replay
    * idempotence as [[upsertSink]]: re-merging a batch converges. */
  def upsertSinkPartitioned(updates: DataFrame, tablePath: String, checkpoint: String,
                            keys: Seq[String], versionCol: String,
                            partitionCol: String): DataStreamWriter[Row] =
    updates.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val parts = batch.select(partitionCol).distinct().collect().map(_.get(0))
        if (parts.nonEmpty) {
          val existing =
            if (tableExists(spark, tablePath))
              spark.read.parquet(tablePath)
                .filter(org.apache.spark.sql.functions.col(partitionCol).isin(parts.toSeq: _*))
            else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], batch.schema)
          // directory-derived partition values can type-infer differently
          // (e.g. date-like strings) — align to the batch schema
          val aligned = existing
            .withColumn(partitionCol, org.apache.spark.sql.functions.col(partitionCol)
              .cast(batch.schema(partitionCol).dataType))
            .select(batch.columns.map(org.apache.spark.sql.functions.col): _*)
          val merged = graft.operators.MergeUpsert
            .mergeUpsert(aligned, batch, keys, versionCol)
            .snapshot()
          merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partitionCol)
            .parquet(tablePath)
        }
      }

  /** Stream-static dimension enrichment: the streaming tick lane
    * left-joined to a STATIC dim (sector/tier — the sp500_tickers
    * seed), broadcast per micro-batch by Spark's stream-static join
    * path. No watermark, no state: the static side is re-resolved
    * every trigger, so a dim refresh on disk is picked up by the next
    * batch — the streaming twin of the batch sector-mart join, and
    * exactly how a 1000-executor cluster enriches a firehose without
    * shuffling it. */
  def enrichTicks(ticks: DataFrame, dim: DataFrame): DataFrame =
    ticks.join(org.apache.spark.sql.functions.broadcast(dim), Seq("symbol"), "left")

  /** Stage a batch frame as `k` TIME-ORDERED parquet files so a file
    * stream replays it as `k` micro-batches (with maxFilesPerTrigger=1)
    * instead of one.
    *
    * Why this matters for stateful queries: the watermark only advances
    * BETWEEN micro-batches. A single-file AvailableNow replay lands the
    * whole input in one batch, so eviction never runs mid-query and a
    * stream-stream join buffers BOTH full inputs in the state store —
    * correct, but O(input) state, the exact thing the watermark exists
    * to prevent. Replayed as k time-ascending chunks, the watermark
    * advances after each one and state stays O(input/k + tolerance
    * span): the shape a real cluster sees, where data arrives over
    * time rather than all at once.
    *
    * Ordering guarantees: `repartitionByRange` gives k disjoint,
    * ascending time ranges, one per part file in filename order;
    * strictly increasing mtimes are stamped in that order because
    * FileStreamSource processes pending files oldest-mtime-first.
    * Since chunk i+1's earliest timestamp is ≥ chunk i's latest, no
    * row ever arrives behind the watermark — zero late drops, so the
    * chunked replay is row-identical to the single-batch one.
    *
    * `flush`: optional frames staged as the FINAL files of the replay
    * (one file per element, in order) — the watermark-flush sentinels
    * an OUTER stream-stream join needs. Outer joins emit their
    * unmatched-side nulls only in a batch that RUNS with the watermark
    * already past the row's match window; an AvailableNow replay
    * drains after its last file, so it takes TWO trailing far-future
    * chunks: the first advances the watermark past all real data, the
    * second gives the join a batch to evict state and emit the
    * null-extended rows under it (a single sentinel advances the
    * watermark and then the query stops — emission never runs). The
    * caller filters sentinel rows out of the result.
    *
    * The replay order exists only once the mtime stamping is done, so a
    * caller that shares a stage publishes it through
    * [[graft.sources.Scratch.cached]], whose marker lands after this
    * returns. */
  def stageTimeChunks(df: DataFrame, timeCol: String, k: Int, dir: String,
                      flush: Seq[DataFrame] = Nil): Unit = {
    def parts() = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    df.repartitionByRange(k, org.apache.spark.sql.functions.col(timeCol))
      .write.mode("overwrite").parquet(dir)
    var files = parts().sortBy(_.getName).toSeq
    flush.foreach { fl =>
      val known = files.map(_.getName).toSet
      fl.coalesce(1).write.mode("append").parquet(dir)
      files = files ++ parts().filterNot(f => known(f.getName)).sortBy(_.getName)
    }
    val base = files.map(_.lastModified()).max
    files.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(base + (i + 1) * 1000L)
    }
  }

  /** Stream-stream inner join: each tick matched with the quotes for
    * the same symbol whose `quote_time` falls within `tolerance`
    * BEFORE the tick (the streaming twin of the backward as-of window
    * — every candidate match, lag-bounded).
    *
    * Both sides are watermarked and the join condition carries the
    * event-time range, which is what BOUNDS THE STATE: Spark keeps a
    * side's rows only until watermark + tolerance passes, then evicts.
    * A stream-stream join without the time-range predicate would have
    * to buffer both streams forever — the classic unbounded-state
    * trap. Append output; matches emit once both watermarks pass.
    *
    * `joinType` "left_outer": unmatched ticks emit null-extended ONCE
    * both watermarks pass their match window — pair with a
    * [[stageTimeChunks]] `flush` sentinel so a draining replay
    * actually reaches that point for the final chunk's rows. */
  def tickQuoteJoin(ticks: DataFrame, quotes: DataFrame,
                    tolerance: String = "15 minutes",
                    watermark: String = "30 minutes",
                    joinType: String = "inner"): DataFrame = {
    val l = ticks.withWatermark("event_time", watermark)
    val r = quotes.withColumnRenamed("symbol", "q_symbol")
      .withWatermark("quote_time", watermark)
    l.join(r,
      expr(s"""symbol = q_symbol AND
              |quote_time BETWEEN event_time - INTERVAL $tolerance AND event_time""".stripMargin),
      joinType)
      .drop("q_symbol")
  }

  /** Append-mode parquet writer with checkpointing (the reference's
    * processed/realtime sink, S3, made exactly-once). */
  def toParquet(windows: DataFrame, outPath: String,
                checkpoint: String): DataStreamWriter[Row] =
    windows.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  // ── streaming heavy hitters (sharded space-saving summaries) ──────

  /** One space-saving counter entry: `err` is the possible
    * overcount inherited from the evicted minimum (0 while the
    * summary is under capacity — exact). */
  case class TopKEntry(user_id: Long, cnt: Long, err: Long)
  case class TopKShardState(counts: Map[Long, (Long, Long)], total: Long)
  case class TopKShardUpdate(event_type: String, shard: Int,
                             total_events: Long, summary: Seq[TopKEntry])

  /** Streaming heavy hitters via `flatMapGroupsWithState`: per
    * (group, shard) key a bounded SPACE-SAVING summary of item
    * frequencies, updated each micro-batch, emitting that key's
    * current top slice in Update mode.
    *
    * Space-saving (Metwally et al., "Efficient computation of
    * frequent and top-k elements in data streams", ICDT 2005): at
    * most `capacity` counters; an unseen item evicts the minimum
    * counter and inherits its count as `err`, guaranteeing
    * `true_cnt <= cnt <= true_cnt + N/capacity` and that any item
    * with frequency > N/capacity is present. While distinct items
    * per key stay <= capacity the summary is EXACT (`err` = 0) — the
    * full-oracle twin q_stream_topk runs in that regime, the same
    * under-capacity gating pattern as q_cms_exact; the eviction path
    * is property-tested in StreamingSpec.
    *
    * Scale design: the state key is (group, SHARD of item), not
    * group alone — parallelism scales with `shards`, each state
    * store holds O(capacity) entries regardless of stream length,
    * and because an item maps to exactly one shard the final merge
    * is a UNION of shard summaries (no cross-shard summation), a
    * plain relational top-k at read time. `emitK` bounds each
    * batch's emission (any global top-k with k <= emitK is contained
    * in the union of per-shard top-emitK slices under the exact
    * regime). */
  def spaceSavingTopK(events: Dataset[(String, Int, Long)],
                      capacity: Int, emitK: Int): Dataset[TopKShardUpdate] = {
    import events.sparkSession.implicits._
    require(capacity >= 1 && emitK >= 1, "spaceSavingTopK: capacity and emitK must be >= 1")
    events.groupByKey(t => (t._1, t._2))
      .flatMapGroupsWithState[TopKShardState, TopKShardUpdate](
        org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        case ((group, shard), rows, state) =>
          val st = state.getOption.getOrElse(TopKShardState(Map.empty, 0L))
          var counts = st.counts
          var total = st.total
          rows.foreach { case (_, _, item) =>
            total += 1
            counts.get(item) match {
              case Some((c, e)) => counts += item -> (c + 1, e)
              case None if counts.size < capacity => counts += item -> (1L, 0L)
              case None =>
                // evict the minimum (deterministic tiebreak on item id)
                val (mItem, (mCnt, _)) = counts.minBy { case (it, (c, _)) => (c, it) }
                counts -= mItem
                counts += item -> (mCnt + 1, mCnt)
            }
          }
          state.update(TopKShardState(counts, total))
          val top = counts.toSeq
            .map { case (it, (c, e)) => TopKEntry(it, c, e) }
            .sortBy(t => (-t.cnt, t.user_id))
            .take(emitK)
          Iterator.single(TopKShardUpdate(group, shard, total, top))
      }
  }

  case class CusumState(n: Long, p1: Long, minP1: Long, maxUp: Long,
                        p2: Long, maxP2: Long, maxDn: Long,
                        firstAlarm: Long)
  case class CusumUpdate(symbol: String, n_events: Long,
                         s_plus: Long, s_minus: Long,
                         max_s_plus: Long, max_s_minus: Long,
                         first_alarm_n: Option[Long])

  /** Online two-sided Page CUSUM per key (Page 1954), continuously
    * maintained: S⁺ₜ = max(0, S⁺ₜ₋₁ + (xₜ−τ−c)), S⁻ₜ = max(0, S⁻ₜ₋₁ −
    * (xₜ−τ+c)), alarm when either exceeds h — the always-on drift
    * detector beside the batch lane's offline changepoint argmax.
    * State uses the PREFIX-SUM closed form (S⁺ₜ = P₁ₜ − min(min P₁, 0)
    * with P₁ the running Σ(x−τ−c)), so the keyed state is eight longs
    * however long the stream runs, and the emitted statistics after
    * AvailableNow equal a batch window computation EXACTLY — integer
    * arithmetic end to end, which is what makes the streaming lane
    * full-oracle-checkable against the SQL window mirror.
    *
    * Order: the recurrence is order-dependent, so each micro-batch's
    * rows are sorted by (ts, x) inside the state function (batch-
    * bounded buffer) and cross-batch order comes from the staged
    * time-chunk replay — same contract as the stream-stream joins.
    * Input tuples: (key, tsMicros, x scaled to cents). */
  def cusumMonitor(events: Dataset[(String, Long, Long)],
                   target: Long, slack: Long,
                   threshold: Long): Dataset[CusumUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumUpdate](
        org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        case (symbol, rows, state) =>
          var st = state.getOption.getOrElse(
            CusumState(0L, 0L, 0L, 0L, 0L, 0L, 0L, -1L))
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, _, x2) =>
            val p1 = st.p1 + (x2 - target - slack)
            val p2 = st.p2 + (x2 - target + slack)
            val minP1 = math.min(st.minP1, p1)
            val maxP2 = math.max(st.maxP2, p2)
            // identity: S⁺ₜ = Pₜ − min(min_{j≤t} Pⱼ, 0) — the min INCLUDES
            // the current prefix (S⁺ₜ = 0 when Pₜ is the running min)
            val sPlus = p1 - math.min(minP1, 0L)
            val sMinus = math.max(maxP2, 0L) - p2
            val n = st.n + 1
            val alarm =
              if (st.firstAlarm >= 0) st.firstAlarm
              else if (sPlus > threshold || sMinus > threshold) n
              else -1L
            st = CusumState(n, p1, minP1, math.max(st.maxUp, sPlus),
              p2, maxP2, math.max(st.maxDn, sMinus), alarm)
          }
          state.update(st)
          Iterator.single(CusumUpdate(symbol, st.n,
            st.p1 - math.min(st.minP1, 0L), math.max(st.maxP2, 0L) - st.p2,
            st.maxUp, st.maxDn,
            if (st.firstAlarm >= 0) Some(st.firstAlarm) else None))
      }
  }

  case class EwmaState(n: Long, v: Long, maxV: Long)
  case class EwmaUpdate(symbol: String, n_events: Long,
                        ewma2: Long, max_ewma2: Long)

  /** Streaming EWMA energy control chart per key — the online twin of
    * [[graft.operators.DailyAnalytics.ewmaVolatility]]'s RiskMetrics
    * recursion, maintained tick by tick: v_t = (λ·v_{t−1} +
    * (100−λ)·x²_t) div 100 with λ = `lambdaPct`/100, seeded v_1 = x²_1.
    * Exact integer arithmetic end to end (x is the scaled-10² value,
    * x² ≤ 1e14, λ·v ≤ 1e16 — Long-safe), so the state after an
    * AvailableNow drain equals the batch list-fold EXACTLY and the
    * lane is full-oracle-checkable against a DuckDB `list_reduce`
    * twin. State is three longs per key however long the stream runs.
    *
    * Order: same contract as [[cusumMonitor]] — the recursion is
    * order-dependent, each micro-batch sorts its rows by (ts, x)
    * (batch-bounded buffer) and cross-batch order comes from the
    * staged time-chunk replay. Input tuples: (key, tsMicros, x₂). */
  def ewmaMonitor(events: Dataset[(String, Long, Long)],
                  lambdaPct: Int = 94): Dataset[EwmaUpdate] = {
    require(lambdaPct >= 1 && lambdaPct <= 99,
      s"ewmaMonitor: lambdaPct out of range: $lambdaPct")
    import events.sparkSession.implicits._
    val L = lambdaPct
    events.groupByKey(_._1)
      .flatMapGroupsWithState[EwmaState, EwmaUpdate](
        org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        case (symbol, rows, state) =>
          var st = state.getOption.getOrElse(EwmaState(0L, 0L, 0L))
          rows.toArray.sortBy(r => (r._2, r._3)).foreach { case (_, _, x2) =>
            val q = x2 * x2
            val v = if (st.n == 0L) q else (L * st.v + (100 - L) * q) / 100
            st = EwmaState(st.n + 1, v, math.max(st.maxV, v))
          }
          state.update(st)
          Iterator.single(EwmaUpdate(symbol, st.n, st.v, st.maxV))
      }
  }

  case class AbState(na: Long, nb: Long, sa: Long, sb: Long, ss: Long)
  case class AbUpdate(metric: String, n_ctrl: Long, n_treat: Long,
                      s_ctrl: Long, s_treat: Long, s_sq: Long, n_total: Long)

  /** Continuously-maintained A/B experiment state per metric — the
    * STREAMING half of the mSPRT monitor: each micro-batch folds its
    * events into the per-metric sufficient statistics (arm counts,
    * scaled-10² value sums, sum of squares) held in keyed state, and
    * emits the updated statistics for the upsert sink. The emitted
    * state after AvailableNow equals the one-pass batch aggregate
    * EXACTLY (sums are order-free), so the final likelihood-ratio
    * readout computed from the table is oracle-checkable while the
    * lane itself proves incremental maintenance: O(|metrics|) state
    * rows, O(batch) work per trigger, no reprocessing of history —
    * the always-on experiment dashboard shape. Input tuples:
    * (metric, user_id, v2 = scaled-10² outcome); treated = odd
    * user_id (the experimentation kit's convention). */
  def abMonitor(events: Dataset[(String, Long, Long)]): Dataset[AbUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[AbState, AbUpdate](
        org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.NoTimeout) {
        case (metric, rows, state) =>
          var st = state.getOption.getOrElse(AbState(0L, 0L, 0L, 0L, 0L))
          rows.foreach { case (_, u, v2) =>
            st =
              if (u % 2 == 1)
                st.copy(nb = st.nb + 1, sb = st.sb + v2, ss = st.ss + v2 * v2)
              else
                st.copy(na = st.na + 1, sa = st.sa + v2, ss = st.ss + v2 * v2)
          }
          state.update(st)
          Iterator.single(AbUpdate(metric, st.na, st.nb, st.sa, st.sb, st.ss,
            st.na + st.nb))
      }
  }
}
