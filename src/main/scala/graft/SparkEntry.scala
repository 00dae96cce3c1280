package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}
import graft.functions.Funcs._
import graft.operators._
import graft.sources.{Adapters, Marts, Scratch, Tables}
import graft.sources.Staging.Snapshottable
import graft.streaming.{CorpusStream, TickStream}

/** Driver contract — maps every operator in SURVEY.md §2 (plus the
  * LLM-data-pipeline extensions) to a query over the shared testdata
  * tables, with a DuckDB oracle mirroring the exact expression tree.
  *
  * Numeric-determinism policy (why oracles hash-match): see
  * [[graft.functions.Funcs.rd]] (floor-based rounding) and
  * [[graft.functions.Funcs.scaled]] (exact fixed-point aggregation).
  */
object SparkEntry {

  /** Flagship query on sf0.001; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame =
    DailyAnalytics.martStockPerformance(
      Marts.dailyBars(spark, "/root/testdata/sf0.001"))

  // ──────────────────────────────────────────────────────────────────
  // Daily (batch) lane — SURVEY §2.2/2.3/2.4/2.5 on lineitem-bars
  // ──────────────────────────────────────────────────────────────────

  /** S1/S9 + P1-P10 + F1/F2: scan, rename/cast projections, quality
    * filters, dedup on the natural key. */
  private def qCleanProject(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(
        upper(trim(col("l_returnflag"))).as("return_flag"),
        col("l_suppkey").as("symbol"),
        to_date(col("l_shipdate")).as("trade_date"),
        col("l_extendedprice").as("close_price"),
        col("l_quantity").cast("long").as("volume"))
      .filter(
        col("close_price") > 0 && col("symbol").isNotNull &&
          col("trade_date").isNotNull && col("volume") >= 0 &&
          col("trade_date") <= lit("2002-01-01").cast("date"))
      .select("return_flag", "symbol", "trade_date")
      .distinct()
      .orderBy("symbol", "trade_date", "return_flag")

  private def qDailyReturns(s: SparkSession, dir: String): DataFrame =
    Marts.dailyReturns(s, dir)
      .orderBy("symbol", "trade_date")

  private def qRollingMetrics(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.rollingMetrics(Marts.dailyReturns(s, dir))
      .select("symbol", "trade_date", "sma_5d", "sma_10d", "sma_20d", "sma_50d",
        "volatility_20d_pct", "annualised_volatility_pct",
        "avg_volume_20d", "volume_vs_avg_20d", "rsi_14")
      .orderBy("symbol", "trade_date")

  private def qMartStockPerformance(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.martStockPerformance(Marts.dailyBars(s, dir))
      .orderBy("symbol", "trade_date")

  /** §2.3's implied seed-dim mart: stock performance ⋈ broadcast ticker
    * dim → day×sector×tier rollup. */
  private def qMartSectorSummary(s: SparkSession, dir: String): DataFrame =
    Enrichment.sectorSummary(
      DailyAnalytics.martStockPerformance(Marts.dailyBars(s, dir)),
      Enrichment.tickerDimFromSuppliers(s, dir))
      .orderBy("trade_date", "sector", "market_cap_tier")

  /** J2 — the literal returns ⋈ rolling equi join of the reference mart. */
  private def qReturnsJoinRolling(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.joinedStockPerformance(Marts.dailyBars(s, dir))
      .select("symbol", "trade_date", "daily_return_pct", "sma_20d", "rsi_14",
        "volume_vs_avg_20d")
      .orderBy("symbol", "trade_date")

  private def qMartDailySummary(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.martDailySummary(
      DailyAnalytics.martStockPerformance(Marts.dailyBars(s, dir)))

  /** The reference's `dbt test` stage as a runtime module: every
    * mart_stock_performance schema test folded into ONE aggregate scan
    * ([[graft.quality.Invariants.audit]]) — counts per check, one row. */
  private def qQualityAudit(s: SparkSession, dir: String): DataFrame =
    graft.quality.Invariants.audit(
      DailyAnalytics.martStockPerformance(Marts.dailyBars(s, dir)),
      graft.quality.Invariants.martStockPerformanceChecks)

  // ──────────────────────────────────────────────────────────────────
  // Realtime (tick) lane — SURVEY §2.4 A1/A2, §2.3 J1, §2.5 W7/W8
  // ──────────────────────────────────────────────────────────────────

  private def qTickWindows15m(s: SparkSession, dir: String): DataFrame =
    TickAnalytics.windowAggregatesExact(Adapters.ticks(s, dir), "15 minutes")
      .orderBy("symbol", "window_start")

  private def qTickWindows1h(s: SparkSession, dir: String): DataFrame =
    TickAnalytics.windowAggregatesExact(Adapters.ticks(s, dir), "1 hour")
      .orderBy("symbol", "window_start")

  /** One `Trigger.AvailableNow` drain of a streaming lane: a fresh
    * scratch dir `out`; `sink(out)` started and awaited under the
    * lane's scoped confs; the sink read back by `read(out)` and
    * snapshotted before `out` (checkpoint and sink alike) is deleted.
    * Returns the result and the query's `recentProgress`.
    *
    * `statePartitions` pins `spark.sql.shuffle.partitions` — which
    * fixes a NEW streaming query's state-store partition count — for
    * the drain only. The registered streaming queries move ~35 K rows
    * per micro-batch, but every state store pays a fixed commit cost
    * per batch: at the session's 32 partitions that is up to 128 store
    * commits per batch (4 stores per partition for a stream-stream
    * join) of ~nothing each — pure overhead, ~1.5 s per query at this
    * volume. Four partitions carry the same data with 1/8th the commit
    * fan-out; the keyed monitors take two (see [[qStreamCusum]]). On a
    * cluster the partition count scales with executors × per-partition
    * volume; this pin is the harness-scale setting of the same dial
    * (checkpoints are fresh per run, so no stored partition count is
    * ever contradicted). `noDataBatches = false` drops the trailing
    * no-data batch where the sink emits nothing in it (the two joins). */
  private def drain(s: SparkSession, prefix: String, statePartitions: Int,
                    noDataBatches: Boolean = true)(
      sink: String => DataStreamWriter[Row])(read: String => DataFrame)
      : (DataFrame, Array[StreamingQueryProgress]) = {
    val out = Scratch.dir(prefix)
    try {
      val confs = Seq("spark.sql.shuffle.partitions" -> statePartitions.toString) ++
        Option.when(!noDataBatches)("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
      val progress = Session.withConf(s, confs: _*) {
        val q = sink(out).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        q.recentProgress
      }
      (read(out).snapshot(), progress)
    } finally Scratch.deleteDir(out)
  }

  /** `dir`'s `table` as a file stream: the file source wants a
    * directory to watch, so the one table is selected out of the shared
    * sf dir by filename glob. */
  private def tableStream(s: SparkSession, dir: String, table: String): DataFrame =
    s.readStream.schema(Tables.table(s, dir, table).schema)
      .option("pathGlobFilter", s"$table.parquet")
      .parquet(dir)

  /** A staged events replay ([[sharedEventStage]]) as a file stream,
    * one chunk file per micro-batch. */
  private def replayStream(s: SparkSession, dir: String, stage: String): DataFrame =
    s.readStream.schema(Tables.events(s, dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)

  /** The events' `ts` as epoch microseconds, from either encoding
    * (nanos-as-long or timestamp). */
  private def tsMicros(events: DataFrame): Column = events.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType => expr("ts div 1000")
    case _ => expr("unix_micros(cast(ts as timestamp))")
  }

  /** §2.8 through the CORRECTNESS gate: the same 15-minute window lane
    * as `q_tick_windows_15m`, computed end-to-end through Structured
    * Streaming — readStream parquet source → watermarked exact window
    * agg → `Trigger.AvailableNow` drain → snapshot sink — then read
    * back. Shares the batch query's oracle: streaming ≡ batch IS the
    * assertion. (Append-mode file sink can't express the equality —
    * windows overlapping the final watermark never close — hence the
    * complete-mode snapshot; see TickStream.snapshotSink.) */
  private def qStreamWindows15m(s: SparkSession, dir: String): DataFrame = {
    val ev = tableStream(s, dir, "events")
    // Watermarks require TIMESTAMP (instant) — the batch lane's
    // TIMESTAMP_NTZ is cast through the session's pinned-UTC timezone
    // on the way in and back on the way out, both wall-clock-preserving.
    val ticks = ev.select(
      col("event_type").as("symbol"),
      Adapters.eventTime(ev).cast("timestamp").as("event_time"),
      col("value").as("price"),
      lit(1L).as("volume"))
    drain(s, "graft_stream_w15", 4)(out => TickStream.snapshotSink(
        TickStream.windowedExact(ticks, "15 minutes", "30 minutes"),
        s"$out/table", s"$out/ckpt")) { out =>
      s.read.parquet(s"$out/table")
        .select(col("symbol"),
          col("window_start").cast("timestamp_ntz").as("window_start"),
          col("window_end").cast("timestamp_ntz").as("window_end"),
          col("ma"), col("volatility"), col("volume_sum"))
        .orderBy("symbol", "window_start")
    }._1
  }

  /** The 4-hour-gap sessionization computed THROUGH the streaming
    * engine (readStream → watermark → session_window → AvailableNow
    * snapshot sink) against q_session_windows' oracle — streaming ≡
    * batch for MERGING session state, not just tumbling windows. */
  private def qStreamSessions(s: SparkSession, dir: String): DataFrame = {
    val ev = tableStream(s, dir, "events")
    val sessions = ev.select(col("user_id"),
        Adapters.eventTime(ev).cast("timestamp").as("event_time"), col("value"))
      .withWatermark("event_time", "1 hour")
      .groupBy(col("user_id"), session_window(col("event_time"), "4 hours").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        r2(sum(scaled(col("value"), 2)) / 1e2).as("value_sum"))
      .select(col("user_id"),
        col("sw.start").cast("timestamp_ntz").as("session_start"),
        col("sw.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("value_sum"))
    drain(s, "graft_stream_sess", 4)(out =>
      TickStream.snapshotSink(sessions, s"$out/table", s"$out/ckpt")) { out =>
      s.read.parquet(s"$out/table").orderBy("user_id", "session_start")
    }._1
  }

  /** Streaming HEAVY HITTERS through the engine: events replayed as a
    * file stream into [[graft.streaming.TickStream.spaceSavingTopK]] —
    * flatMapGroupsWithState keeping one space-saving summary per
    * (event_type, user-shard) key, Update-mode emissions merge-upserted
    * into a keyed table (version = the key's monotone event total),
    * then the final per-type top-10 is a relational UNION-of-shards
    * rank over that table. Capacity (1024/shard) exceeds the distinct
    * users per shard at every test SF, so the summary is EXACT and the
    * full oracle is the plain grouped count — the q_cms_exact gating
    * pattern; the under-capacity eviction path and its N/capacity
    * error bound are property-tested in StreamingSpec. State is
    * O(shards x capacity) regardless of stream length. */
  private def qStreamTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val typed = tableStream(s, dir, "events").select(col("event_type"),
        pmod(col("user_id"), lit(4)).cast("int").as("shard"), col("user_id"))
      .as[(String, Int, Long)]
    val updates = TickStream.spaceSavingTopK(typed, capacity = 1024, emitK = 16)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("cnt").desc, col("user_id"))
    drain(s, "graft_stream_topk", 4)(out => TickStream.upsertSink(updates.toDF(),
        s"$out/table", s"$out/ckpt", Seq("event_type", "shard"), "total_events")) { out =>
      s.read.parquet(s"$out/table")
        .select(col("event_type"), explode(col("summary")).as("e"))
        .select(col("event_type"), col("e.user_id").as("user_id"),
          col("e.cnt").as("cnt"))
        .withColumn("rank", row_number().over(w).cast("int"))
        .filter(col("rank") <= 10)
        .select("event_type", "rank", "user_id", "cnt")
        .orderBy("event_type", "rank")
    }._1
  }

  /** Streaming two-sided Page CUSUM drift monitor: per-symbol prefix-
    * sum state folded micro-batch by micro-batch over the shared
    * ordered replay (TickStream.cusumMonitor), upserted per trigger;
    * the final table equals the batch window computation exactly
    * (integer arithmetic end to end), giving the online detector a
    * full SQL-window oracle. τ=50.00, slack 2.00, h=1500.00 — fixed
    * literals (near the tick-value scale, so both sides genuinely
    * excurse) mirrored in the oracle.
    *
    * 2 state partitions, not 4: the keyed monitors hold one state row
    * per symbol (5 here) — every extra partition is a RocksDB store
    * instance opened+committed per micro-batch for zero keys. (The
    * joins/windows keep 4: their state is row-granular.) */
  private def qStreamCusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // k=2: the monitor needs ordered multi-batch ACCUMULATION (state
    // carried across a batch boundary), not the joins' watermark-
    // eviction proof — see sharedEventStage's k contract
    val ev = replayStream(s, dir, sharedEventStage(s, dir, k = 2))
    val input = ev.select(col("event_type"), tsMicros(ev).as("tus"),
        scaled(col("value"), 2).as("x2"))
      .as[(String, Long, Long)]
    val updates = TickStream.cusumMonitor(input,
      target = 5000L, slack = 200L, threshold = 150000L)
    drain(s, "graft_stream_cusum", 2)(out => TickStream.upsertSink(updates.toDF(),
        s"$out/table", s"$out/ckpt", Seq("symbol"), "n_events")) { out =>
      s.read.parquet(s"$out/table")
        .select(col("symbol"), col("n_events"), col("s_plus"), col("s_minus"),
          col("max_s_plus"), col("max_s_minus"), col("first_alarm_n"),
          col("first_alarm_n").isNotNull.as("alarmed"))
        .orderBy("symbol")
    }._1
  }

  /** Streaming EWMA energy control chart: per-symbol RiskMetrics
    * recursion (λ=0.94) over scaled tick values, folded micro-batch
    * by micro-batch in keyed state (TickStream.ewmaMonitor), upserted
    * per trigger; the final table equals the batch list-fold exactly
    * — the online twin of q_ewma_vol's offline estimate. */
  private def qStreamEwma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = replayStream(s, dir, sharedEventStage(s, dir, k = 2))
    val input = ev.select(col("event_type"), tsMicros(ev).as("tus"),
        scaled(col("value"), 2).as("x2"))
      .as[(String, Long, Long)]
    val updates = TickStream.ewmaMonitor(input)
    drain(s, "graft_stream_ewma", 2)(out => TickStream.upsertSink(updates.toDF(),
        s"$out/table", s"$out/ckpt", Seq("symbol"), "n_events")) { out =>
      s.read.parquet(s"$out/table")
        .select(col("symbol"), col("n_events"), col("ewma2"), col("max_ewma2"),
          rd(sqrt(col("ewma2").cast("double")) / 100.0, 4).as("ewma_val"))
        .orderBy("symbol")
    }._1
  }

  /** Streaming A/B experiment monitor: per-metric sufficient
    * statistics maintained in keyed state across micro-batches
    * (TickStream.abMonitor), upserted per trigger; the final table's
    * mSPRT readout equals the one-pass batch aggregate exactly —
    * the always-on experiment dashboard, state O(|metrics|). */
  private def qStreamAb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val typed = tableStream(s, dir, "events").select(col("event_type"), col("user_id"),
        scaled(col("value"), 2).as("v2"))
      .as[(String, Long, Long)]
    val updates = TickStream.abMonitor(typed)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val n = col("n_ctrl") + col("n_treat")
    val ssum = col("s_ctrl") + col("s_treat")
    val sigma2 = (dec(n) * col("s_sq") - dec(ssum) * ssum).cast("double") /
      (dec(n) * n).cast("double") / 1e4
    val h = (col("n_ctrl") * col("n_treat")).cast("double") / n.cast("double")
    val delta = (col("s_treat").cast("double") / col("n_treat").cast("double") -
      col("s_ctrl").cast("double") / col("n_ctrl").cast("double")) / 1e2
    val t2 = 0.1 * 0.1
    val lam = sqrt(sigma2 / (sigma2 + h * t2)) *
      exp(h * h * t2 * delta * delta / (lit(2.0) * sigma2 * (sigma2 + h * t2)))
    drain(s, "graft_stream_ab", 2)(out => TickStream.upsertSink(updates.toDF(),
        s"$out/table", s"$out/ckpt", Seq("metric"), "n_total")) { out =>
      s.read.parquet(s"$out/table")
        .filter(col("n_ctrl") > 0 && col("n_treat") > 0)
        .select(col("metric"), col("n_ctrl"), col("n_treat"),
          rd(delta, 4).as("delta"), rd(lam, 4).as("lambda"),
          rd(least(lit(1.0), lit(1.0) / lam), 4).as("p_final"))
        .orderBy("metric")
    }._1
  }

  /** The streaming DEDUP lane computed THROUGH the engine: documents
    * replayed as a file stream into [[graft.streaming.CorpusStream]]'s
    * foreachBatch ingest (sign → probe store → append, exactly-once
    * dynamic-partition sinks) under AvailableNow, then the flags table
    * is checked against the BATCH MinHash-LSH pair oracle — streaming
    * ≡ batch for the LLM-data lane, the q_stream_windows_15m
    * assertion applied to dedup. */
  private def qStreamDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = tableStream(s, dir, "documents")
    drain(s, "graft_stream_dedup", 4)(out => CorpusStream.dedupIngest(docs, "doc_id", "text",
        s"$out/store", s"$out/flags", s"$out/ckpt")) { out =>
      s.read.parquet(s"$out/flags").select("id1", "id2", "jaccard").orderBy("id1", "id2")
    }._1
  }

  /** Stream-stream INTERVAL JOIN computed THROUGH the engine: views
    * and clicks read as two file streams, watermarked on both sides,
    * joined within a 6-hour tolerance ([[graft.streaming.TickStream
    * .tickQuoteJoin]] — bounded state via both watermarks), and
    * checked against the plain batch interval join in DuckDB. Inner
    * stream-stream matches emit as found, so the AvailableNow replay ≡
    * the batch join; with windows, sessions and dedup this puts every
    * §2.8 stateful aspect under the cross-engine gate.
    *
    * The input is replayed as THREE time-ordered chunks
    * ([[graft.streaming.TickStream.stageTimeChunks]] +
    * maxFilesPerTrigger=1), not one monolithic batch: the watermark
    * advances between micro-batches, so join-state eviction actually
    * runs mid-query and the state store holds O(chunk + tolerance
    * span) rows instead of both full inputs — the shape that survives
    * a 100× input. Chunks are time-disjoint and ascending, so no row
    * arrives behind the watermark and the result is row-identical to
    * the single-batch replay (StreamingSpec pins >1 micro-batch AND
    * peak state < total input as regression guards). */
  private def qStreamJoin(s: SparkSession, dir: String): DataFrame =
    streamJoinRun(s, dir)._1

  /** The shared k-chunk time-ordered replay stage of raw events, one
    * [[graft.sources.Scratch.cached]] entry per (k, events content):
    * stage once, every ordered-replay consumer reads the same immutable
    * chunk files.
    *
    * k is part of the cache name: the stream-stream JOINS need k=3 (the
    * smallest replay that advances the watermark twice mid-query, so
    * state EVICTION provably runs — StreamingSpec's >1-data-batch +
    * <25%-state guards), while the keyed MONITORS (CUSUM) need only
    * ordered multi-batch accumulation — k=2 proves state carries
    * across a batch boundary and pays the fixed ~0.8 s/micro-batch
    * commit floor one less time. */
  private[graft] def sharedEventStage(s: SparkSession, dir: String, k: Int = 3): String =
    Scratch.cached(s"sj_stage_k$k", 1, Seq(new java.io.File(s"$dir/events.parquet")))(
      TickStream.stageTimeChunks(Tables.events(s, dir), "ts", k, _))

  /** [[qStreamJoin]] body, also returning the per-micro-batch progress
    * so StreamingSpec can assert the state stayed bounded.
    *
    * Harness-shape tuning, both sides documented for the cluster case:
    *   - state partitions are pinned to 4 for THIS query ([[drain]]):
    *     each micro-batch here carries ~35 K rows, and the
    *     stream-stream join keeps 4 state stores per partition whose
    *     per-batch commit cost is fixed — 32 partitions means 128
    *     store commits of ~nothing each, pure overhead at this volume.
    *     On a real cluster the partition count scales with executors
    *     and per-partition volume, not down to 4.
    *   - both join sides derive from ONE file-stream source (a
    *     stream-stream SELF-join): views and clicks are filters of the
    *     same readStream, so each micro-batch lists/track-offsets the
    *     staged directory once instead of twice — on a cluster this
    *     halves the driver's file-index work per trigger, and here it
    *     removes one of the two fixed per-batch source round trips.
    *   - the staged time-chunks are the content-keyed
    *     [[sharedEventStage]]. Checkpoint and sink stay fresh per run
    *     (exactly-once state is per-query, only the immutable input
    *     replay is shared).
    *   - noDataMicroBatches is off FOR THIS QUERY (the
    *     q_stream_join_outer dial, r18): an INNER stream-stream join
    *     appends rows only in data batches — the trailing no-data batch
    *     exists to advance the watermark for emission-on-eviction sinks
    *     (outer joins, append-mode windows), emits nothing here, and
    *     costs a ~0.55 s fixed commit (sf0.1 micro-batch progress:
    *     batch 3, rows=0, triggerExecution 549 ms). State eviction
    *     mid-query still runs between the k=3 data batches —
    *     StreamingSpec's >1-batch + bounded-state guards are
    *     unaffected. */
  private[graft] def streamJoinRun(s: SparkSession, dir: String)
      : (DataFrame, Array[StreamingQueryProgress]) = {
    val src0 = replayStream(s, dir, sharedEventStage(s, dir))
    val views = src0.filter(col("event_type") === "view")
      .select(col("user_id").as("symbol"),
        Adapters.eventTime(src0).cast("timestamp").as("event_time"),
        col("event_id").as("view_id"))
    val clicks = src0.filter(col("event_type") === "click")
      .select(col("user_id").as("symbol"),
        Adapters.eventTime(src0).cast("timestamp").as("quote_time"),
        col("event_id").as("click_id"))
    val joined = TickStream.tickQuoteJoin(views, clicks, "6 hours", "6 hours")
      .select(col("symbol").as("user_id"), col("view_id"), col("click_id"),
        col("event_time").cast("timestamp_ntz").as("view_time"),
        col("quote_time").cast("timestamp_ntz").as("click_time"))
    // append-mode parquet sink: inner join matches emit as found
    // (only OUTER joins wait on the watermark), so the AvailableNow
    // replay lands the complete batch-equivalent result
    drain(s, "graft_stream_join", 4, noDataBatches = false)(out =>
      TickStream.toParquet(joined, s"$out/table", s"$out/ckpt")) { out =>
      s.read.parquet(s"$out/table").orderBy("user_id", "view_id", "click_id")
    }
  }

  /** Stream-stream LEFT OUTER interval join THROUGH the engine — the
    * stateful-join aspect [[qStreamJoin]]'s inner form cannot show:
    * unmatched views must emit null-extended, and Spark only emits
    * them once BOTH watermarks pass the row's match window. A
    * draining AvailableNow replay would therefore swallow the last
    * chunk's unmatched rows (they are still inside the watermark when
    * the stream ends), so the staging carries far-future SENTINEL
    * rows — a view + a click on a reserved user id — that advance
    * both watermarks past all real data and are filtered out of the
    * result: the standard watermark-flush technique, and the reason
    * this query is row-identical to the batch LEFT JOIN the oracle
    * states.
    *
    * Replay shape (3 micro-batches, the same count as the inner
    * variant): the first sentinel pair is UNIONED INTO the staged
    * data before range-chunking — year-2099 timestamps sort it into
    * the top chunk, so batch 2 both carries real data and advances
    * the watermark past all of it — and only the second pair rides a
    * separate flush file, whose batch emits every remaining
    * null-extended row under that watermark. Folding the first pair
    * in (rather than staging it as its own file, the round-11 shape)
    * removes one fixed ~0.5 s micro-batch commit without changing
    * the result: null emission still runs mid-data in batch 2 (under
    * batch 1's watermark) and the state store still holds chunks,
    * never both full inputs.
    *
    * noDataMicroBatches is off FOR THIS QUERY: with the t1 sentinels
    * folded into the last data chunk, every real null-extended row is
    * already emitted by the t2 flush batch (it runs under the
    * t1-advanced watermark); the trailing no-data batch AvailableNow
    * would otherwise append emits only the t2 sentinels' own unmatched
    * rows — which the sink read filters out — at a measured ~0.5 s
    * fixed commit cost. Streaming queries that DO need the no-data
    * batch for final-state emission (sessions, windows) keep the
    * session default. */
  private def qStreamJoinOuter(s: SparkSession, dir: String): DataFrame = {
    val sentinelUser = -999999L
    // version 2: the staged LAYOUT changed (sentinel pair 1 folded into
    // the data chunks) — entries of the older 4-file layout must not be
    // reused, and the cache evicts them
    val staged = Scratch.cached("sjo_stage", 2, Seq(new java.io.File(s"$dir/events.parquet"))) {
      stage =>
        val events = Tables.events(s, dir)
        val tsType = events.schema("ts").dataType
        def sentinelTs(iso: String, nanos: Long) = tsType match {
          // the nanos-as-long encoding; else a plain cast
          case org.apache.spark.sql.types.LongType => lit(nanos)
          case _ => lit(iso).cast(tsType)
        }
        def sentinel(eventType: String, id: Long, ts: Column) = events.limit(1)
          .select(events.columns.map {
            case "event_id" => lit(id).cast(events.schema("event_id").dataType).as("event_id")
            case "user_id" => lit(sentinelUser).cast(events.schema("user_id").dataType).as("user_id")
            case "event_type" => lit(eventType).as("event_type")
            case "ts" => ts.as("ts")
            case c => col(c)
          }: _*)
        // sentinel pair 1 (t1) is folded into the staged data — its
        // year-2099 rows range-sort into the TOP chunk, so the last data
        // batch also advances both watermarks past all real data; pair 2
        // (t2) is the one flush file whose batch emits the null-extended
        // rows under that watermark. 2 data chunks: one mid-data
        // watermark advance exercises early null emission mid-query; the
        // deeper chunked replay/eviction proof is the INNER query's job
        // (k=3 there), and each extra file costs a fixed ~0.5 s
        // micro-batch commit.
        val t1 = sentinelTs("2099-01-01 00:00:00", 4070908800000000000L)
        val t2 = sentinelTs("2100-01-01 00:00:00", 4102444800000000000L)
        TickStream.stageTimeChunks(
          events.union(sentinel("view", -1L, t1)).union(sentinel("click", -2L, t1)),
          "ts", 2, stage,
          flush = Seq(sentinel("view", -3L, t2).union(sentinel("click", -4L, t2))))
    }
    val src0 = replayStream(s, dir, staged)
    val views = src0.filter(col("event_type") === "view")
      .select(col("user_id").as("symbol"),
        Adapters.eventTime(src0).cast("timestamp").as("event_time"),
        col("event_id").as("view_id"))
    val clicks = src0.filter(col("event_type") === "click")
      .select(col("user_id").as("symbol"),
        Adapters.eventTime(src0).cast("timestamp").as("quote_time"),
        col("event_id").as("click_id"))
    // NOTE: the sentinel rows must flow all the way THROUGH the
    // streaming query — a `filter(symbol =!= sentinelUser)` here gets
    // pushed down to the parquet scan, whose row-group stats then skip
    // the entire flush file and the watermark never advances (observed:
    // flush batches read 0 rows). They are dropped from the SINK read
    // below instead, where the filter is batch-side and harmless.
    val joined = TickStream
      .tickQuoteJoin(views, clicks, "6 hours", "6 hours", joinType = "left_outer")
      .select(col("symbol").as("user_id"), col("view_id"), col("click_id"),
        col("event_time").cast("timestamp_ntz").as("view_time"),
        col("quote_time").cast("timestamp_ntz").as("click_time"))
    drain(s, "graft_stream_join_o", 2, noDataBatches = false)(out =>
      TickStream.toParquet(joined, s"$out/table", s"$out/ckpt")) { out =>
      s.read.parquet(s"$out/table")
        .filter(col("user_id") =!= sentinelUser) // drop the flush sentinels
        .orderBy("user_id", "view_id", "click_id")
    }._1
  }

  private def qRealtimeAnalytics(s: SparkSession, dir: String): DataFrame =
    TickAnalytics.realtimeAnalytics(Adapters.ticks(s, dir))
      .orderBy("symbol", "window_start")

  private val now2024 = "2024-02-01 00:00:00"

  private def qMartRealtimeSignals(s: SparkSession, dir: String): DataFrame =
    TickAnalytics.martRealtimeSignals(
      TickAnalytics.realtimeEnriched(
        TickAnalytics.stagingRealtime(
          TickAnalytics.realtimeAnalytics(Adapters.ticks(s, dir)),
          lit(now2024).cast("timestamp_ntz"))))
      .orderBy("symbol", "window_start_at")

  // ──────────────────────────────────────────────────────────────────
  // Sinks / enrichment / scalar surface — SURVEY §2.1 S6, §2.3, §2.7
  // ──────────────────────────────────────────────────────────────────

  /** S6 — distributed merge-upsert replacing the reference's row-by-row
    * Snowflake MERGE loop. */
  private def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val existing = base.withColumn("version", lit(1L))
    val updates = base.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", r2(col("o_totalprice") * 1.05))
      .withColumn("version", lit(2L))
    MergeUpsert.mergeUpsert(existing, updates, Seq("o_orderkey"), "version")
      .orderBy("o_orderkey")
  }

  /** S6 + the delete clause: updates bump every third order, tombstone
    * every fifteenth; a winning tombstone removes its key. */
  private def qMergeDelete(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val existing = base.withColumn("version", lit(1L))
    val updates = base.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", r2(col("o_totalprice") * 1.05))
      .withColumn("version", lit(2L))
      .withColumn("is_deleted", col("o_orderkey") % 15 === 0)
    MergeUpsert.mergeUpsertDelete(existing, updates, Seq("o_orderkey"),
      "version", "is_deleted")
      .orderBy("o_orderkey")
  }

  /** Broadcast dim join (the reference's implied sp500_tickers join) +
    * exact fixed-point revenue rollup. */
  private def qRevenueByNation(s: SparkSession, dir: String): DataFrame =
    Enrichment.revenueByNation(s, dir).orderBy("region", "nation")

  /** F1/F4/F9/F10/F12/F13/F14 + regex/json scalar surface. */
  private def qScalarFuncs(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val t = Adapters.eventTime(ev)
    val epoch0 = lit("2024-01-01 00:00:00").cast("timestamp_ntz")
    ev.select(
      col("event_id"),
      upper(trim(col("event_type"))).as("event_type_norm"),
      regexp_extract(col("props"), "\"k\": (\\d+)", 1).cast("int").as("k_value"),
      safeDivide(col("value"), (col("user_id") % 7).cast("double"), lit(-1.0)).as("value_per_mod"),
      (t + expr("INTERVAL 7 DAYS")).as("week_later"),
      floor((unix_timestamp(t) - unix_timestamp(epoch0)) / 60).cast("long").as("minutes_since"),
      date_format(t, "yyyy-MM-dd HH:mm").as("minute_str"),
      r4(sqrt(abs(col("value")))).as("value_sqrt"),
      concat_ws("|", col("event_type"), col("user_id").cast("string")).as("tag"),
      from_json(to_json(struct(col("value"), col("user_id"))),
          org.apache.spark.sql.types.StructType.fromDDL("value DOUBLE, user_id BIGINT"))
        .getField("user_id").as("rt_user"))
      .orderBy("event_id")
  }

  /** Backward as-of join (union-window implementation; DuckDB oracle
    * uses its native ASOF JOIN — independent formulations, same
    * semantics). */
  /** Last-touch attribution: each purchase attributes to the user's
    * most recent prior view within a 7-day lookback — the canonical
    * marketing-attribution shape, composed from [[AsOfJoin]] (attach
    * the latest view, then the lookback null-out: the most recent
    * view either qualifies or nothing does). All time arithmetic in
    * exact epoch MICROSECONDS (unix_micros ↔ epoch_us) — second-grain
    * casts round differently across engines. Views deduped per
    * (user, instant) by min view_id so the as-of tie is
    * deterministic. */
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val t = Adapters.eventTime(ev)
    val lookbackUs = 7L * 86400L * 1000000L
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        t.as("purchase_time"),
        unix_micros(t.cast("timestamp")).as("purchase_us"))
    val views = Dedup.keepFirst(
      ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          t.as("view_time"),
          unix_micros(t.cast("timestamp")).as("view_us")),
      Seq("user_id", "view_time"), Seq(col("view_id").asc))
    val within = col("view_us") >= col("purchase_us") - lookbackUs
    AsOfJoin.asOfBackward(purchases, views, Seq("user_id"),
      "purchase_time", "view_time")
      .select(col("purchase_id"), col("user_id"), col("purchase_us"),
        when(within, col("view_id")).as("attributed_view_id"),
        when(within, expr("(purchase_us - view_us) DIV 60000000"))
          .as("gap_minutes"))
      .orderBy("purchase_id")
  }

  private def qAsOfJoin(s: SparkSession, dir: String): DataFrame = {
    val lo = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("o_custkey").as("custkey"), to_date(col("l_shipdate")).as("ship_date"))
    val quotes = Dedup.keepFirst(
      Tables.orders(s, dir).select(
        col("o_custkey").as("custkey"),
        to_date(col("o_orderdate")).as("quote_date"),
        col("o_orderkey").as("quote_orderkey"),
        col("o_totalprice").as("quote_totalprice")),
      Seq("custkey", "quote_date"), Seq(col("quote_orderkey").desc))
    AsOfJoin.asOfBackward(lo, quotes, Seq("custkey"), "ship_date", "quote_date")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Gap-based session windows over the event stream. */
  private def qSessionWindows(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.select(col("user_id"), Adapters.eventTime(ev).as("event_time"), col("value"))
      .groupBy(col("user_id"), session_window(col("event_time"), "4 hours").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        r2(sum(scaled(col("value"), 2)) / 1e2).as("value_sum"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("value_sum"))
      .orderBy("user_id", "session_start")
  }

  /** Dynamic-gap sessions: each event extends its session by a gap
    * that depends on the event itself (purchases hold sessions open
    * 8 h, everything else 2 h) — `session_window` with a Column gap.
    * The oracle mirrors the merge rule exactly: an event joins the
    * session while it starts before the running max of previous
    * event-ends; session end = max end of the merged chain. */
  private def qSessionDynamic(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val gap = when(col("event_type") === "purchase", "8 hours").otherwise("2 hours")
    ev.select(col("user_id"), col("event_type"),
        Adapters.eventTime(ev).as("event_time"), col("value"))
      .groupBy(col("user_id"), session_window(col("event_time"), gap).as("sw"))
      .agg(count(lit(1)).as("n_events"),
        r2(sum(scaled(col("value"), 2)) / 1e2).as("value_sum"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("value_sum"))
      .orderBy("user_id", "session_start")
  }

  /** ROLLUP grouping sets over the broadcast dim hierarchy. */
  private def qRollupRevenue(s: SparkSession, dir: String): DataFrame =
    Enrichment.revenueRollup(s, dir)
      .orderBy(col("region").asc_nulls_first, col("nation").asc_nulls_first)

  /** CUBE: all four grouping sets in one pass. */
  private def qCubeRevenue(s: SparkSession, dir: String): DataFrame =
    Enrichment.revenueCube(s, dir)
      .orderBy(col("region").asc_nulls_first, col("nation").asc_nulls_first)

  /** Headline pricing-summary rollup (TPC-H Q1 shape): filter pushdown
    * to the parquet scan, partial-aggregable grouped sums/avgs over
    * exact fixed-point views of the money columns. */
  private def qPricingSummary(s: SparkSession, dir: String): DataFrame = {
    val disc = scaled(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
    val charge = scaled(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6)
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("long")).as("sum_qty"),
        r2(sum(scaled(col("l_extendedprice"), 2)) / 1e2).as("sum_base_price"),
        r2(sum(disc) / 1e4).as("sum_disc_price"),
        r2(sum(charge) / 1e6).as("sum_charge"),
        scaledAvg(scaled(col("l_quantity"), 2), 2, 4).as("avg_qty"),
        scaledAvg(scaled(col("l_extendedprice"), 2), 2, 4).as("avg_price"),
        scaledAvg(scaled(col("l_discount"), 2), 2, 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ──────────────────────────────────────────────────────────────────
  // LLM-data-pipeline operators: dedup / text / similarity / multimodal
  // ──────────────────────────────────────────────────────────────────

  private def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Dedup.keepFirst(
      ev.select(col("event_id"), col("user_id"), col("event_type"),
        Adapters.eventTime(ev).as("event_time"), col("value")),
      Seq("user_id", "event_type"), Seq(col("event_time"), col("event_id")))
      .orderBy("user_id", "event_type")
  }

  /** URL/host-grain dedup: a deterministic messy URL is synthesized
    * per doc (mixed-case scheme/host, default and non-default ports,
    * utm params, fragments — keyed off doc_id so both engines build
    * the identical string), canonicalized by [[Dedup.urlCanonicalize]]
    * (pure scan-projection string ops), and rolled up per host. */
  private def qUrlDedup(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val url = concat(
      // doc_id % 9 ∈ {4, 8}: scheme-less / protocol-relative inputs —
      // exercises urlCanonicalize's pass-through guard (host NULL,
      // canonical_url = raw) alongside the well-formed majority.
      when(col("doc_id") % 9 === 4, lit(""))
        .when(col("doc_id") % 9 === 8, lit("//"))
        .otherwise(concat(
          when(col("doc_id") % 5 === 0, lit("HTTP"))
            .when(col("doc_id") % 5 === 1, lit("http"))
            .when(col("doc_id") % 5 === 2, lit("HTTPS")).otherwise(lit("https")),
          lit("://"))),
      when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
      lit(".Example.COM"),
      when(col("doc_id") % 4 === 0, lit(":443"))
        .when(col("doc_id") % 4 === 1, lit(":80")).otherwise(lit("")),
      lit("/d/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 2 === 0, lit("?utm_source=feed&utm_campaign=x&ref=a"))
        .when(col("doc_id") % 7 === 0, lit("?ref=home&utm_medium=em"))
        .otherwise(lit("")),
      when(col("doc_id") % 6 === 0, lit("#sec2")).otherwise(lit("")))
    Dedup.urlGrainRollup(
      Dedup.urlCanonicalize(d.withColumn("url", url), "url"))
      .orderBy("host")
  }

  private def qTextAnalysis(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
    TextAnalysis.fingerprint(
      TextAnalysis.qualityScore(
        TextAnalysis.languageId(
          TextAnalysis.tokenStats(docs, "text"), "text"), "text"), "text")
      .drop("text")
      .orderBy("doc_id")
  }

  /** The corpus keep/drop decision composed from the cheap signals. */
  private def qCorpusFilter(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.corpusFilter(Tables.documents(s, dir), "doc_id", "text", "lang",
      minTokens = 10, minQuality = 0.5)
      .orderBy("doc_id")

  /** Registered as the native-Expression variant: the MinHash
    * signature emits inside the scan stage (no explode / signature
    * shuffle). Agg-form equality is proven in DedupSpec; the oracle
    * is result-based, so it covers both. */
  private def qDedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairsNative(Tables.documents(s, dir), "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, threshold = 0.5)
      .orderBy("id1", "id2")

  /** MOSS winnowing fingerprints per doc with cross-corpus sharing —
    * the positional local-fingerprinting primitive (guaranteed
    * detection of shared runs >= w+k-1 words), oracle-gated. */
  private def qWinnowing(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowingFingerprintsNative(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Dedup-lane eval: measured recall of the MinHash-LSH candidate
    * stage vs the exact n-gram-Jaccard ground truth per 0.1-wide
    * Jaccard band, beside the closed-form 1−(1−s^r)^b expectation —
    * the S-curve check that validates the bands/rows choice for the
    * 0.5 dedup threshold. Fully oracle-checked (DuckDB re-derives
    * both pair sets and the same literal expectation table). */
  private def qDedupRecall(s: SparkSession, dir: String): DataFrame =
    Dedup.lshRecallByBand(Tables.documents(s, dir), "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, threshold = 0.5)

  /** Fuzzy record linkage: MinHash-banded candidates verified by
    * bounded Levenshtein over the leading 160 chars. */
  private def qDedupFuzzy(s: SparkSession, dir: String): DataFrame =
    Dedup.fuzzyEditPairs(Tables.documents(s, dir), "doc_id", "text",
      n = 3, numHashes = 32, bands = 8, maxDist = 40, prefixLen = 160)
      .orderBy("id1", "id2")

  /** Asymmetric shingle containment — excerpt/superset detection. */
  private def qContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
      n = 3, threshold = 0.8)
      .orderBy("src_id", "dst_id")

  /** Incremental dedup: the doc_id%5 slice plays the fresh ingest
    * batch against the rest as the signature store — pairs where at
    * least one side is fresh, per-batch cost O(batch), not O(corpus). */
  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val store = Dedup.minhashSignatures(docs.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
    val fresh = Dedup.minhashSignatures(docs.filter(col("doc_id") % 5 === 0), "doc_id", "text")
    Dedup.minhashLshPairsIncremental(store, fresh, "doc_id")
      .orderBy("id1", "id2")
  }

  /** Registered as the PPJoin prefix-filter variant: result-identical
    * to the plain shingle join (DedupSpec proves equality) but immune
    * to the hot-shingle quadratic blowup on Zipfian corpora — the plan
    * that survives 100 TB. */
  private def qDedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text",
      n = 3, threshold = 0.5)
      .orderBy("id1", "id2")

  /** Corpus-grounded rarity score (the log-likelihood stand-in that
    * stays bit-portable — see [[TextAnalysis.tokenRarity]]). */
  private def qTokenRarity(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenRarity(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Query terms for the TF-IDF retrieval query — shared with the
    * oracle SQL so both sides rank the same vocabulary. */
  val tfidfTerms: Seq[String] = Seq("spark", "vector", "stream", "hash")

  private def qTfidfSearch(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTopK(Tables.documents(s, dir), "doc_id", "text",
      tfidfTerms, k = 20)

  /** Robust MAD outlier audit over the daily-returns lane. */
  private def qOutlierMad(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.madOutliers(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Incremental mart maintenance: stats of two disjoint history
    * slices MERGED, oracle = one pass over the full history — the
    * algebraic-merge law as a correctness gate, not a comment. */
  private def qIncrementalStats(s: SparkSession, dir: String): DataFrame = {
    val bars = Marts.dailyBars(s, dir)
    val cutoff = lit("1995-01-01").cast("date")
    val merged = DailyAnalytics.mergeSymbolStats(
      DailyAnalytics.symbolStats(bars.filter(col("trade_date") < cutoff)),
      DailyAnalytics.symbolStats(bars.filter(col("trade_date") >= cutoff)))
    DailyAnalytics.symbolStatsView(merged).orderBy("symbol")
  }

  /** Winsorized returns: percentile clamping per symbol. */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.winsorizeReturns(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol", "trade_date")

  /** Missing-day audit over the daily lane. */
  private def qTradingGaps(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.tradingGaps(Marts.dailyBars(s, dir), maxGapDays = 1)
      .orderBy("symbol", "trade_date")

  /** Pairwise return-correlation matrix from exact integer sums. */
  private def qPairCorrelation(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.pairCorrelation(
      Marts.dailyReturns(s, dir), minDays = 30)
      .orderBy("s1", "s2")

  /** Grouped top-k with rank pushdown (WindowGroupLimit). */
  private def qTopkPerGroup(s: SparkSession, dir: String): DataFrame =
    Ranking.topKPerGroup(Tables.orders(s, dir), Seq("o_orderpriority"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), k = 3)
      .select(col("o_orderpriority"), col("rnk"), col("o_orderkey"),
        col("o_totalprice"))
      .orderBy("o_orderpriority", "rnk")

  /** One BPE training round: top adjacent subword-pair merges. */
  private def qBpeMerges(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeMergeCandidates(Tables.documents(s, dir), "text", k = 20)

  /** Content-defined chunking: hash-derived boundaries (CDC). */
  private def qContentChunks(s: SparkSession, dir: String): DataFrame =
    Packing.contentDefinedChunks(Tables.documents(s, dir), "doc_id", "text",
      divisor = 8)
      .orderBy("doc_id", "chunk_idx")

  /** Inverted-index build: df + rank-capped sorted posting samples.
    * Registered at posting grain (token, df, pos, doc_id) — the
    * cross-engine gate sorts scalar rows; the array-postings form is
    * the library API ([[TextAnalysis.invertedIndex]]). */
  /** Registered at TOKEN grain with an order-sensitive md5 digest of
    * the posting list (both engines serialize the same
    * comma-joined doc_id list) — the posting-level posexplode form
    * paid a 16× row blow-up + full sort purely for gate sortability
    * (≈ half the query's bench cost). The digest pins the same
    * values: any posting difference changes the md5. Value-level
    * witnesses: the exploded q_random_projection / q_embed_quantize /
    * q_group_centroids rows, and TextMultimodalSpec's posting-order
    * assertions. */
  private def qInvertedIndex(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.invertedIndex(Tables.documents(s, dir), "doc_id", "text",
      sampleK = 16)
      .select(col("token"), col("df"),
        size(col("postings")).as("n_postings"),
        md5(concat_ws(",", transform(col("postings"), _.cast("string"))))
          .as("postings_md5"))
      .orderBy("token")

  /** W-surface: rank-based distribution functions over the per-symbol
    * return distribution (percent_rank, cume_dist). */
  private def qPercentRank(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("symbol").orderBy("daily_return_pct")
    Marts.dailyReturns(s, dir)
      .filter(col("daily_return_pct").isNotNull)
      .select(col("symbol"), col("trade_date"), col("daily_return_pct"),
        r4(percent_rank().over(w)).as("pr"),
        r4(cume_dist().over(w)).as("cd"))
      .orderBy("symbol", "trade_date")
  }

  /** Composition: k-means cells over embeddings labeled by their top
    * document terms (vec_id ≡ doc_id in the shared testdata). */
  private def qClusterTerms(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.clusterTopTerms(
      Tables.documents(s, dir), "doc_id", "text",
      Similarity.kmeansRefine(Tables.embeddings(s, dir), "vec_id", "embedding",
        numCells = 16, iters = 1),
      assignIdCol = "id", k = 5)
      .orderBy("cell", "rnk")

  /** Mixture resample: src0 toward 50% (caps at keep-all), src1/src2
    * toward 25% each; all other sources drop. */
  private def qMixtureSample(s: SparkSession, dir: String): DataFrame =
    Sampling.mixtureSample(Tables.documents(s, dir), "doc_id", "source",
      Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Temperature (α=0.5 square-root) source mixing toward 300 target
    * rows — sqrt is IEEE-correctly-rounded, so the oracle reproduces
    * the driver's cut thresholds bit-for-bit (weight sum folded in
    * sorted-source order on both engines). */
  private def qTemperatureMixture(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureMixture(Tables.documents(s, dir), "doc_id", "source",
      targetRows = 300, alpha = 0.5)
      .select("doc_id", "source")
      .orderBy("doc_id")

  /** Quality/length-weighted deterministic sampling: p = n_chars/400. */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.weightedByHash(Tables.documents(s, dir), "doc_id",
      col("n_chars"), maxWeight = 400L)
      .select("doc_id", "n_chars")
      .orderBy("doc_id")

  /** Per-source token-budget cap — mixture control in token space. */
  private def qTokenBudget(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerKeyTokens(Tables.documents(s, dir), "source", "doc_id",
      "n_chars", budget = 5000L)
      .select("source", "doc_id", "n_chars", "cum_tokens")
      .orderBy("source", "doc_id")

  /** JL-style deterministic random projection of the embedding table.
    * Registered at component grain (id, k, v) — scalar rows for the
    * gate; [[Similarity.randomProject]] keeps the array form. */
  private def qRandomProjection(s: SparkSession, dir: String): DataFrame =
    Similarity.randomProject(Tables.embeddings(s, dir), "vec_id", "embedding",
      outDim = 16)
      .select(col("id"), posexplode(col("proj")).as(Seq("k", "v")))
      .orderBy("id", "k")

  /** Hourly event-rate spike detection vs a trailing 24 h baseline. */
  private def qRateAnomaly(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Profiling.rateAnomaly(ev.withColumn("event_time", Adapters.eventTime(ev)),
      "event_type", "event_time", lookback = 24, sigmas = 3)
      .orderBy("event_type", "h")
  }

  /** Strict sequential conversion funnel over the event stream. */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.funnel(ev.withColumn("event_time", Adapters.eventTime(ev)),
      "user_id", "event_type", "event_time", Seq("view", "click", "purchase"))
      .orderBy("step")
  }

  /** The funnel with a 48 h conversion window per step. */
  private def qFunnelWindowed(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.funnelWithin(ev.withColumn("event_time", Adapters.eventTime(ev)),
      "user_id", "event_type", "event_time", Seq("view", "click", "purchase"),
      maxGapHours = 48)
      .orderBy("step")
  }

  /** 7-day cohort retention over the event stream. */
  private def qRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.cohortRetention(
      ev.withColumn("event_time", Adapters.eventTime(ev)),
      "user_id", "event_time", horizonDays = 7)
      .orderBy("cohort_date")
  }

  /** Minimum detectable effect at 80% power / 5% alpha for the
    * post-period revenue metric at the current split sizes. */
  private def qMde(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.minimumDetectableEffect(
      ev.withColumn("event_time", Adapters.eventTime(ev)),
      "user_id", "event_time", "event_type", "value")
  }

  /** Covariate balance (standardized mean difference) of the
    * pre-period revenue across the parity variants — the value-level
    * split check beside q_srm_check's count-level one. */
  private def qCovariateBalance(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.covariateBalance(ev.withColumn("event_time", Adapters.eventTime(ev)),
      "user_id", "event_time", "event_type", "value")
  }

  /** Day-of-week × hour activity heatmap with traffic shares. */
  private def qActivityHeatmap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Profiling.activityHeatmap(
      ev.withColumn("event_time", Adapters.eventTime(ev)), "event_time")
      .orderBy("dow", "hour")
  }

  /** Fano-factor burstiness of daily event counts per type — the
    * Poisson-dispersion gauge, exact integer moments. */
  private def qFanoFactor(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Profiling.fanoFactor(ev.withColumn("event_time", Adapters.eventTime(ev)),
      "event_type", "event_time")
      .orderBy("event_type")
  }

  /** Event-path mining: top-10 observed (from → to) event-type
    * transitions inside 30-min gap sessions — the observed-journey
    * companion of the hypothesized funnel, oracle-gated. */
  private def qEventPaths(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.eventPaths(ev.withColumn("event_time", Adapters.eventTime(ev)),
      "user_id", "event_type", "event_time")
      .orderBy("rank")
  }

  /** Discrete churn-hazard life table over the event stream: per
    * lifetime duration, the risk set, endings, churns (7-day
    * right-censoring) and hazard — exact integer counts under the
    * full oracle. */
  private def qChurnHazard(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.churnHazard(ev.withColumn("event_time", Adapters.eventTime(ev)),
      "user_id", "event_time")
      .orderBy("duration")
  }

  /** Sample-ratio-mismatch guardrail for the user-parity split:
    * exact two-cell chi-square as one integer-arithmetic row. */
  private def qSrmCheck(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.sampleRatioCheck(ev, "user_id")
  }

  /** CUPED variance-reduced A/B readout over the event stream:
    * per user_id-parity variant, raw vs covariate-adjusted mean
    * post-period purchase revenue with the pooled θ = cov(X,Y)/var(X)
    * — exact integer moments (DECIMAL(38,0) ↔ HUGEINT) under the
    * full oracle. */
  private def qCupedLift(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.cupedLift(ev.withColumn("event_time", Adapters.eventTime(ev)),
      "user_id", "event_time", "event_type", "value")
      .orderBy("variant")
  }

  /** Inter-document boilerplate signal: the fraction of each doc's
    * distinct 3-grams shared with any other doc. */
  private def qCrossDocNgrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.crossDocDupNgrams(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Exact-substring-style duplicated-span coverage (8-gram interval
    * union) — what an exact substring remover would cut per doc. */
  private def qDupSpans(s: SparkSession, dir: String): DataFrame =
    Dedup.duplicatedSpans(Tables.documents(s, dir), "doc_id", "text", k = 8)
      .orderBy("doc_id")

  /** Per-source corpus health rollup (volume, token mass, language
    * spread) — one partial-agg shuffle on the provenance key. */
  private def qSourceProfile(s: SparkSession, dir: String): DataFrame =
    Profiling.sourceProfile(Tables.documents(s, dir), "source", "text", "lang")
      .orderBy("source")

  /** PIVOT: line status spread to columns over an exact fixed-point
    * sum — Spark's groupBy().pivot() (map-side partial agg per pivot
    * value, ONE shuffle on the group key; the pivot values are plan
    * literals so no extra pass discovers them). Oracle = the
    * equivalent conditional sums. */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag").as("return_flag"))
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(sum(scaled(col("l_quantity"), 2)))
      .select(col("return_flag"),
        r2(col("F").cast("double") / 1e2).as("qty_f"),
        r2(col("O").cast("double") / 1e2).as("qty_o"))
      .orderBy("return_flag")

  /** UNPIVOT (melt): the pivot's wide output back to long form — the
    * wide→long reshaping half of the PIVOT surface. */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    qPivot(s, dir)
      .unpivot(Array(col("return_flag")), Array(col("qty_f"), col("qty_o")),
        "line_status", "qty")
      .orderBy("return_flag", "line_status")

  /** FULL OUTER join: per-day bar volume vs per-day tick counts —
    * days present in EITHER lane survive with nulls on the other. */
  private def qFullOuter(s: SparkSession, dir: String): DataFrame = {
    val barVol = Marts.dailyBars(s, dir)
      .groupBy("trade_date").agg(sum(col("volume")).as("bar_volume"))
    val tickCnt = Adapters.ticks(s, dir)
      .groupBy(to_date(col("event_time")).as("trade_date"))
      .agg(count(lit(1)).as("n_ticks"))
    barVol.join(tickCnt, Seq("trade_date"), "full_outer")
      .orderBy("trade_date")
  }

  /** Skew-safe two-stage salted aggregation, result-identical to the
    * plain grouped sum (the oracle IS the plain form). */
  private def qSkewSalted(s: SparkSession, dir: String): DataFrame =
    Skew.saltedSum(Tables.lineitem(s, dir), Seq("l_returnflag"),
      scaled(col("l_extendedprice"), 2))
      .select(col("l_returnflag"), r2(col("sum_value") / 1e2).as("revenue"),
        col("count_rows"))
      .orderBy("l_returnflag")

  /** Deterministic hash split + nested sample over the corpus — the
    * eval-contamination discipline: membership is a pure function of
    * doc_id (no RNG), so splits survive corpus growth and re-runs. */
  private def qSampleSplit(s: SparkSession, dir: String): DataFrame =
    Sampling.withSplit(
      Sampling.sampleByHash(
        Tables.documents(s, dir).select("doc_id", "lang"), "doc_id", 0.5),
      "doc_id", trainFraction = 0.8, valFraction = 0.1)
      .orderBy("doc_id")

  /** Decontamination: corpus docs scored by n-gram overlap against a
    * (broadcast) eval set — here the deterministic doc_id%50 slice
    * plays the benchmark. */
  /** Aho–Corasick multi-needle sweep: every doc whose doc_id % 17 = 3
    * contributes a 20-char needle (its own text from offset
    * doc_id % 7 + 1 — deterministic in both engines), needles shorter
    * than 10 chars are dropped, and ONE broadcast automaton pass
    * reports each (doc, needle) verbatim inclusion, rolled up per
    * doc. The oracle is the equivalent contains() join. */
  private def qDecontaminationMulti(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
    val needles = docs.filter(col("doc_id") % 17 === 3)
      .select(col("doc_id").as("needle_id"),
        expr("substring(text, cast(doc_id % 7 as int) + 1, 20)").as("needle"))
      .filter(length(col("needle")) >= 10)
    Decontamination.multiNeedleHits(
      docs, "doc_id", "text", needles, "needle_id", "needle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched"), min(col("needle_id")).as("first_needle_id"))
      .select(col("doc_id"), col("n_matched").cast("long").as("n_matched"),
        col("first_needle_id").cast("long").as("first_needle_id"))
      .orderBy("doc_id")
  }

  private def qDecontamination(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontamination.contaminationScores(
      docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 50 === 0), "text")
      .orderBy("doc_id")
  }

  /** Same contamination scores through the bloom-prefiltered plan —
    * identical result by the no-false-negatives property (same oracle
    * as q_decontamination), different physical shape: binary-literal
    * bloom filter instead of a broadcast-hash relation. */
  private def qDecontaminationBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontamination.contaminationScoresBloom(
      docs.filter(col("doc_id") % 50 =!= 0), "doc_id", "text",
      docs.filter(col("doc_id") % 50 === 0), "text")
      .orderBy("doc_id")
  }

  /** Concatenate-and-chunk packing spans: whitespace token counts,
    * 512-token chunks, 8 hash shards. */
  private def qDocPacking(s: SparkSession, dir: String): DataFrame =
    Packing.chunkSpans(
      Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).as("toks")),
      "doc_id", "toks", budget = 512, shards = 8)
      .orderBy("doc_id")

  /** RAG-style sliding-window chunking: 128-token windows, 32-token
    * overlap — a narrow map + explode, shuffle-free at any scale. */
  private def qDocChunks(s: SparkSession, dir: String): DataFrame =
    Packing.chunkWithOverlap(
      Tables.documents(s, dir)
        .select(col("doc_id"), size(split(col("text"), " ")).as("toks")),
      "doc_id", "toks", size = 128, overlap = 32)
      .orderBy("doc_id", "chunk_idx")

  /** Near-dup GROUPS: the pair graph collapsed to canonical
    * representatives via distributed min-label propagation
    * ([[Dedup.connectedComponents]]) — what a dedup pipeline actually
    * keys its keep/drop decision on. Oracle: DuckDB recursive CTE
    * reaching the same fixpoint. */
  private def qDedupGroups(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupGroups(
      Dedup.minhashLshPairsNative(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, threshold = 0.5))
      .orderBy("doc_id")

  /** Canonical-representative selection per near-dup cluster — the
    * curation step BETWEEN clustering and the kept corpus: instead of
    * keep-min-id ([[qDedupKeep]]'s policy), each cluster keeps its
    * HIGHEST-QUALITY member (quality ties → smallest doc_id), the
    * policy real pipelines use so dedup doesn't discard the best copy
    * of a boilerplate family. Composed from the existing operators
    * (MinHash-LSH pairs → connected components → quality score) plus
    * one partial-aggregable argmax: max(struct(quality, −doc_id)) per
    * cluster — no window sort, so the reduction is map-side
    * combinable at any cluster-count scale. Singleton docs are their
    * own canonical. */
  private def qDedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select("doc_id", "lang", "text")
    val groups = Dedup.dedupGroups(
      Dedup.minhashLshPairsNative(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, threshold = 0.5))
    val scored = TextAnalysis.qualityScore(docs, "text")
      .select(col("doc_id"), col("quality_score"))
    scored.join(groups.select(col("doc_id"), col("rep_id"), col("group_size")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("rep_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("group_size"), lit(1L)).as("cluster_size"),
        col("quality_score"))
      .groupBy("cluster_id", "cluster_size")
      .agg(max(struct(col("quality_score"), (-col("doc_id")).as("neg_id"))).as("best"))
      .select(col("cluster_id"),
        (-col("best.neg_id")).as("canonical_doc_id"),
        col("cluster_size"),
        col("best.quality_score").as("quality_score"))
      .orderBy("cluster_id")
  }

  /** The kept corpus after end-to-end near-dup removal — what a
    * training-data pipeline actually writes out. */
  private def qDedupKeep(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupCorpus(Tables.documents(s, dir).select("doc_id", "lang", "text"),
      "doc_id", "text")
      .select("doc_id", "lang")
      .orderBy("doc_id")

  /** Per-source dedup shrinkage report over the full near-dup run. */
  private def qDedupReport(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupReport(Tables.documents(s, dir).select("doc_id", "source", "text"),
      "doc_id", "text", "source")
      .orderBy("source")

  /** Same groups, FORCED through the large-star/small-star path — the
    * hybrid default takes min-label on this corpus's shallow graphs,
    * so without this row the oracle would never exercise star
    * contraction end-to-end (same gap the streaming lane had). */
  private def qDedupGroupsStar(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupGroups(
      Dedup.minhashLshPairsNative(Tables.documents(s, dir), "doc_id", "text",
        n = 3, numHashes = 32, bands = 8, threshold = 0.5),
      algo = "star")
      .orderBy("doc_id")

  /** Native-Expression variant (scan-stage signature; agg-form
    * equality proven in DedupSpec, result-based oracle unchanged). */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairsNative(Tables.documents(s, dir), "doc_id", "text",
      maxHamming = 3, bands = 4)
      .orderBy("id1", "id2")

  /** FIXED retrieval-evaluation panel: every embedding-retrieval lane
    * (brute baseline, ANN variants, recall/nDCG/MRL eval) issues its
    * queries from this set — `vec_id % modulus == 0` capped at
    * `vec_id < 500`, i.e. the sf0.01 panel frozen across scale
    * factors. Two reasons, both scale-architecture:
    *
    *  - retrieval quality is measured against a BENCHMARK query set;
    *    a panel that grows with the corpus conflates "corpus got
    *    bigger" with "queries got more numerous", and
    *  - brute-force exact ranking is O(panel × corpus) — linear in
    *    the corpus for a fixed panel, quadratic for a proportional
    *    one. The r13 ScalingSpec run caught exactly that: uncapped,
    *    q_retrieval_ndcg's work grew 16× on a 4× corpus.
    *
    * All vec_ids at sf0.01 are < 500, so the cap changes nothing at
    * the correctness gate's scale factor; at larger SFs the panel
    * stays 10 (modulus 50) / 20 (modulus 25) queries while the corpus
    * side keeps growing. Oracle mirrors carry the same predicate. */
  private def evalPanel(emb: DataFrame, modulus: Int = 50): DataFrame =
    emb.filter(col("vec_id") % modulus === 0 && col("vec_id") < 500)

  private def qSimTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.bruteForceTopK(emb, evalPanel(emb),
      "vec_id", "embedding", k = 5)
      .orderBy("query_id", "rank")
  }

  /** Hard-negative mining for contrastive training: top-k similar
    * corpus items per query with the near-dup band (cosine ≥ 0.40)
    * cut BEFORE ranking, so would-be false negatives free their ranks
    * for the next-closest true negatives. The synthetic embeddings
    * are near-orthogonal (max pair cosine ≈ 0.45), so the demo
    * threshold sits at the top of their cosine range to provably
    * exercise the cut — production near-dup bands sit at ~0.9. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.hardNegatives(emb, evalPanel(emb),
      "vec_id", "embedding", k = 5, dupThreshold = 0.40)
      .orderBy("query_id", "rank")
  }

  private def qSimAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.annTopK(emb, evalPanel(emb),
      "vec_id", "embedding", k = 5, numPlanes = 6)
      .orderBy("query_id", "rank")
  }

  /** ANN quality measured in-engine: recall@5 of the hyperplane-LSH
    * top-k against the brute-force exact top-k, per query — both
    * pipelines and the intersection in ONE plan, fully oracle-checked
    * (DuckDB re-runs brute and LSH and states the same recall). */
  private def qSimRecall(s: SparkSession, dir: String): DataFrame = {
    // snapshot the table once: brute + LSH + their query sides would
    // otherwise re-scan the parquet six times (recall is typically
    // measured on a sample, so the staged panel is bounded)
    val emb = Tables.embeddings(s, dir).snapshot()
    val queries = evalPanel(emb)
    Similarity.recallAtK(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 5),
      Similarity.annTopK(emb, queries, "vec_id", "embedding", k = 5, numPlanes = 6))
      .orderBy("query_id")
  }

  /** Ranked-retrieval eval: MRR + nDCG@10 of the hyperplane-LSH
    * retriever against the exact cosine ranking, graded by exact rank
    * — the ORDER-sensitive companion of q_sim_recall's set overlap.
    * Fully oracle-checked: DuckDB re-derives both rankings and the
    * same log2-discount table (embedded as identical double
    * literals). */
  private def qRetrievalNdcg(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).snapshot()
    val queries = evalPanel(emb)
    Similarity.rankedEval(
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10),
      Similarity.annTopK(emb, queries, "vec_id", "embedding", k = 10, numPlanes = 6),
      k = 10)
      .orderBy("query_id")
  }

  /** Matryoshka truncation sweep: recall@5 of prefix-dim retrieval
    * (d = 8/16/32/64) vs the full 64-dim exact top-5, micro-averaged
    * per dim — the truncate-how-far gauge for MRL embeddings. */
  private def qMrlRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).snapshot()
    val queries = evalPanel(emb, modulus = 25)
    Similarity.mrlTruncationSweep(emb, queries, "vec_id", "embedding",
      k = 5, dims = Seq(8, 16, 32, 64))
  }

  /** Language-ID confusion matrix against the corpus labels — the
    * measured-accuracy readout of the stopword classifier. */
  private def qLangConfusion(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.langConfusion(Tables.documents(s, dir), "lang", "text")
      .orderBy("lang", "lang_pred")

  /** Embedding centroid drift between the id-parity corpus halves —
    * exact integer sums up to one sqrt/divide. */
  private def qEmbeddingDrift(s: SparkSession, dir: String): DataFrame =
    Similarity.embeddingDrift(Tables.embeddings(s, dir), "vec_id", "embedding")

  /** Embedding-cosine near-dup over the documents table (embedding
    * column joined on; blocked by lang — the realistic "same-language
    * corpus cell" IVF-style blocking). Registered as the BANDED
    * variant: a lang block spans a constant fraction of the corpus, so
    * within-block all-pairs would be quadratic; the banded plan's
    * candidate step is an equi join on (block, band, band_key). */
  private def qDedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .join(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .select("doc_id", "lang", "embedding")
    Similarity.cosineNearDupPairsBanded(docs, "doc_id", "embedding", "lang", threshold = 0.3)
      .orderBy("id1", "id2")
  }

  /** IVF ANN with the md5-seeded sampled coarse quantizer — fully
    * deterministic across engines, so it carries a complete DuckDB
    * oracle; recall is additionally tested vs brute force in
    * SimilaritySpec. */
  private def qSimIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(emb, evalPanel(emb),
      "vec_id", "embedding", k = 5, numCells = 16, nprobe = 2)
      .orderBy("query_id", "rank")
  }

  /** IVF search over the Lloyd-REFINED quantizer — the trained index
    * variant of q_sim_ivf, end-to-end under one oracle. */
  private def qSimIvfRefined(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(emb, evalPanel(emb),
      "vec_id", "embedding", k = 5, numCells = 16, nprobe = 2, refineIters = 1)
      .orderBy("query_id", "rank")
  }

  /** Standalone coarse-quantizer cell assignment — the cluster step a
    * pipeline trains once and reuses across dedup/ANN/stats. Same
    * md5-seeded quantizer as [[Similarity.ivfTopK]], so the oracle
    * states every cell exactly. */
  private def qIvfAssign(s: SparkSession, dir: String): DataFrame =
    Similarity.ivfAssign(Tables.embeddings(s, dir), "vec_id", "embedding", numCells = 16)
      .select("id", "cell")
      .orderBy("id")

  /** Per-label prototype vectors (nearest-class-mean centroids).
    * Registered at component grain (label, n_vecs, k, m) — scalar
    * rows for the gate; [[Similarity.groupCentroids]] keeps arrays. */
  private def qGroupCentroids(s: SparkSession, dir: String): DataFrame =
    Similarity.groupCentroids(Tables.embeddings(s, dir), "label", "embedding")
      .withColumnRenamed("grp", "label")
      .select(col("label"), col("n_vecs"),
        posexplode(col("centroid")).as(Seq("k", "m")))
      .orderBy("label", "k")

  /** One Lloyd round on top of the seeded quantizer — the IVF training
    * step, oracle-checked end to end. */
  private def qKmeansRefine(s: SparkSession, dir: String): DataFrame =
    Similarity.kmeansRefine(Tables.embeddings(s, dir), "vec_id", "embedding",
      numCells = 16, iters = 1)
      .orderBy("id")

  /** SemDedup (cluster → within-cell cosine pairs → component
    * representatives): the paper's semantic-dedup decision, fully
    * deterministic, oracle-checked end to end (cell assignment +
    * pairwise cosine + recursive-CTE components in DuckDB). */
  private def qSemDedup(s: SparkSession, dir: String): DataFrame =
    Similarity.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
      threshold = 0.3, numCells = 16)
      .orderBy("id")

  /** Banded-LSH near-dup within label blocks (same recall contract as
    * [[Similarity.cosineNearDupPairsBanded]]; the oracle mirrors the
    * banding, so the compare is exact on the banded semantics). */
  private def qSimNearDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairsBanded(Tables.embeddings(s, dir),
      "vec_id", "embedding", "label", threshold = 0.3)
      .orderBy("id1", "id2")

  /** Custom codegen'd Catalyst expression ([[graft.plans.RollingHash]])
    * registered through SparkSessionExtensions. */
  private def qRollingHash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"),
        call_function("rolling_hash", col("text")).as("content_rh"),
        call_function("rolling_hash", substring(col("text"), 1, 64)).as("prefix_rh"))
      .orderBy("doc_id")

  private def qMultimodalFrames(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asMedia(Tables.documents(s, dir), "doc_id", "text")
    media.select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
        col("meta.mime").as("mime"), col("meta.n_frames").as("n_frames"))
      .join(Multimodal.sampleFrames(media), "media_id")
      .orderBy("media_id", "frame_idx")
  }

  /** Real-codec roundtrip: 16 deterministic bytes per doc → 4×4 gray
    * PNG (javax.imageio encode) → real ImageIO decode → raster hex.
    * PNG is lossless, so the decoded raster equals the input bytes and
    * DuckDB can state the expected features without any codec:
    * pixel_hex = UPPER(MD5(text)). A failed decode would break width/
    * height/hex — the oracle checks the codec path, not a tautology. */
  private def qMultimodalDecode(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val media = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        unhex(md5(col("text"))).as("payload"))
      .repartition(parts, col("media_id")) // 1 row group ≠ 1 task (CPU-bound stage)
    Multimodal.decodeImageFeatures(Multimodal.toGrayPng(media, width = 4))
      .orderBy("media_id")
  }

  /** Per-class rebalancing: deterministic stratified sample by lang. */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedByHash(Tables.documents(s, dir).select("doc_id", "lang"),
      "doc_id", "lang", Map("en" -> 0.8, "de" -> 0.5), defaultFraction = 0.25)
      .orderBy("doc_id")

  /** Deterministic per-source cap — corpus balancing so no source
    * exceeds an absolute budget; rank-limit plan (WindowGroupLimit,
    * map-side per-key top-k, asserted in PlanSpec). */
  private def qSourceCap(s: SparkSession, dir: String): DataFrame =
    Sampling.capPerKey(Tables.documents(s, dir).select("doc_id", "source"),
      "source", "doc_id", cap = 10)
      .orderBy("doc_id")

  /** SCD2 compaction of the events history: per-user event_type runs
    * as versioned validity ranges — one exchange feeds every window
    * frame (no groupBy re-shuffle; runs collapse by row-number
    * differencing). */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Scd2.fromHistory(
      ev.select(col("user_id"), Adapters.eventTime(ev).as("et"),
        col("event_type"), col("event_id")),
      "user_id", "et", "event_type", "event_id")
      .orderBy("user_id", "version")
  }

  /** Mergeable HLL distinct-user sketches per event type, plus the
    * global rollup UNIONED FROM THE SKETCHES (never rescanning raw
    * events) — approximate by design, so no DuckDB oracle: the driver
    * records the rows-only check; accuracy and the merge law are
    * asserted in SketchesSpec. */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    val perType = Sketches.distinctSketchByGroup(
      Tables.events(s, dir), Seq("event_type"), "user_id")
    val global = Sketches.rollupSketches(perType, Seq.empty)
      .withColumn("event_type", lit("__all__"))
    perType.unionByName(global)
      .select("event_type", "n_rows", "approx_distinct")
      .orderBy("event_type")
  }

  /** Mergeable Count-Min frequency sketches, ONE plan end to end:
    * per-source sketches roll up through the native `cms_merge_agg`
    * aggregate (kilobytes × sources — the model, never the data), the
    * merged sketch broadcasts over the language dimension, and
    * `cms_estimate` reads each key in-plan next to its exact grouped
    * count. Zero driver collects; the staged (source, lang) panel is
    * scanned once and feeds both branches. Approximate ⇒ no DuckDB
    * oracle (rows-only check, like q_approx_distinct); the accuracy
    * and merge-linearity contracts live in SketchesSpec. */
  private def qCmsFrequency(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select("source", "lang").snapshot()
    val merged = Sketches.cmsByGroup(base, Seq("source"), "lang")
      .agg(call_function("cms_merge_agg", col("cms")).as("cms"))
    base.groupBy("lang").agg(count(lit(1)).as("exact_count"))
      .crossJoin(broadcast(merged))
      .select(col("lang"),
        call_function("cms_estimate", col("cms"), col("lang")).as("cms_estimate"),
        col("exact_count"))
      .orderBy("lang")
  }

  /** Schema-health profile of the orders table: per-column nulls +
    * exact distincts in one audit pass. */
  private def qColumnProfile(s: SparkSession, dir: String): DataFrame =
    Profiling.columnProfile(Tables.orders(s, dir),
      Seq("o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"))
      .orderBy("column")

  /** Min-length cutoff sweep over the corpus: surviving docs + token
    * mass at each candidate threshold, one scan for all cutoffs. */
  private def qThresholdSweep(s: SparkSession, dir: String): DataFrame =
    Profiling.thresholdSweep(Tables.documents(s, dir),
      length(col("text")).cast("long"),
      size(split(col("text"), " ")).cast("long"),
      Seq(0L, 50L, 100L, 200L, 400L))
      .orderBy("threshold")

  /** Gopher-style repetition signals over the corpus. */
  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionSignals(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** PII-ish surface triage: email/URL pattern counts, digit fraction. */
  private def qPiiSignals(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.piiSignals(Tables.documents(s, dir).select("doc_id", "text"), "text")
      .select("doc_id", "email_count", "url_count", "digit_frac")
      .orderBy("doc_id")

  /** Calendar-interval rolling window (RANGE frame over days, not
    * rows) — correct across date gaps where the ROWS-frame mart
    * deliberately replicates the reference's row-count lookback. */
  private def qCalendarRolling(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.calendarRolling(Marts.dailyBars(s, dir), days = 7)
      .select("symbol", "trade_date", "avg_close_7d", "n_obs_7d", "vol_sum_7d")
      .orderBy("symbol", "trade_date")

  /** Exact interpolated percentiles per group (the distributed
    * sort-based percentile, not an approximation): both engines use
    * the standard pos = p·(n−1) linear interpolation, exact on the
    * whole-valued inputs. */
  private def qQuantiles(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        percentile(col("l_quantity"), lit(0.25)).as("p25_qty"),
        percentile(col("l_quantity"), lit(0.5)).as("p50_qty"),
        percentile(col("l_quantity"), lit(0.75)).as("p75_qty"),
        percentile(col("l_quantity"), lit(0.99)).as("p99_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** The Z-order clustering key ([[graft.sources.Layout]]) as an
    * oracle-checked computation: the bit-interleave ladder must agree
    * with the DuckDB rendition exactly — it decides file layout, and
    * two engines disagreeing on z means they'd cluster differently. */
  private def qLayoutZorder(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        graft.sources.Layout.zValue(col("l_orderkey"), col("l_suppkey")).as("z"))
      .orderBy("l_orderkey", "l_suppkey")

  /** Hilbert clustering key beside the Morton key for every row — the
    * locality-tighter layout alternative (Layout.hilbertValue). */
  private def qLayoutHilbert(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        graft.sources.Layout.zValue(col("l_orderkey"), col("l_suppkey")).as("z"),
        graft.sources.Layout.hilbertValue(col("l_orderkey"), col("l_suppkey")).as("h"))
      .orderBy("l_orderkey", "l_suppkey")

  /** Exact heavy-hitter vocabulary over the corpus: top tokens by
    * document frequency, deterministic (df desc, token) cut. */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabTopK(Tables.documents(s, dir), "doc_id", "text", k = 25)
      .orderBy("rank")

  /** JSON payload extraction + rollup via Spark 4's VARIANT type:
    * parse once ([[org.apache.spark.sql.functions.parse_json]]), typed
    * access (`try_variant_get`) — the shredded-columnar replacement for
    * repeated get_json_object string scans (value equality with
    * get_json_object asserted in TextMultimodalSpec). */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        try_variant_get(parse_json(col("props")), "$.k", "long").as("k_val"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("k_val")).as("sum_k"),
        min(col("k_val")).as("min_k"),
        max(col("k_val")).as("max_k"),
        count(col("k_val")).as("n_with_k"))
      .orderBy("event_type")

  /** Fixed-width histogram of order value — one map-side bucket
    * expression + one partial-agg shuffle of ≤ nBuckets rows/task. */
  private def qHistogram(s: SparkSession, dir: String): DataFrame =
    Profiling.histogram(Tables.orders(s, dir), col("o_totalprice"),
      lo = 0.0, step = 25000.0, nBuckets = 20)
      .orderBy("bucket")

  /** Customer spend deciles: exact long totals per key, ntile over the
    * aggregated key table only (see [[Profiling.tierSummary]] scale
    * note), per-tier rollup. */
  private def qNtileDeciles(s: SparkSession, dir: String): DataFrame =
    Profiling.tierSummary(Tables.orders(s, dir), "o_custkey",
      scaled(col("o_totalprice"), 2), tiles = 10)
      .select(col("tier"), col("n_keys"),
        r2(col("tier_total") / 1e2).as("tier_revenue"),
        r2(col("tier_floor") / 1e2).as("floor_revenue"),
        r2(col("tier_ceiling") / 1e2).as("ceiling_revenue"))
      .orderBy("tier")

  /** Skew-safe salted equi join, result-identical to the plain join
    * (the oracle IS the plain form): orders replicated ×8 salt values,
    * lineitem scattered across them, then the priority rollup. */
  private def qSkewJoin(s: SparkSession, dir: String): DataFrame =
    Skew.saltedJoin(
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), scaled(col("l_extendedprice"), 2).as("price_c")),
      Tables.orders(s, dir)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
      "l_orderkey", buckets = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), sum(col("price_c")).as("rev_c"))
      .select(col("o_orderpriority"), col("n_items"),
        r2(col("rev_c") / 1e2).as("revenue"))
      .orderBy("o_orderpriority")

  /** BM25 keyword retrieval over the corpus (integer-scaled idf /
    * tf-saturation — see [[TextAnalysis.bm25TopK]]). */
  private def qBm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
      terms = Seq("spark", "vector", "stream", "hash"), k = 20)

  /** Hybrid-retrieval fusion: the BM25 and TF-IDF top-20 lists for
    * the same query, combined by reciprocal-rank fusion — scoreless,
    * scale-free, exact-integer contributions. */
  private def qRrfFusion(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.rrfFuse(Seq(
        "bm25" -> TextAnalysis.bm25TopK(docs, "doc_id", "text", tfidfTerms, k = 20),
        "tfidf" -> TextAnalysis.tfidfTopK(docs, "doc_id", "text", tfidfTerms, k = 20)),
      "doc_id", "score", kRrf = 60, k = 20)
      .withColumnRenamed("id", "doc_id")
  }

  /** Top principal component of the embedding cloud by matrix-free
    * power iteration — exact-integer dot products, decimal
    * accumulation, model-sized driver state only. */
  private def qPcaPower(s: SparkSession, dir: String): DataFrame =
    Similarity.pcaTopComponent(Tables.embeddings(s, dir), "embedding",
      dim = 64, iters = 2)
      .orderBy("dim")

  /** Degree assortativity of the part co-purchase graph: do
    * well-connected parts co-occur with each other, or with leaves. */
  private def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    val pairs = Marts.copurchasePairs(s, dir)
    Graph.assortativity(pairs, "u", "v")
  }

  /** Mantel–Haenszel stratified risk ratio: purchase conversion of
    * treated vs control users pooled across user segments. */
  private def qMhLift(s: SparkSession, dir: String): DataFrame =
    Cohorts.mantelHaenszel(
      Tables.events(s, dir).withColumn("segment", expr("(user_id div 2) % 3")),
      "segment")
      .orderBy("stratum")

  /** Tokenizer fertility by language: chars per word / per subword —
    * the multilingual sequence-length budget metric. */
  private def qTokenFertility(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenFertility(Tables.documents(s, dir), "lang", "text")
      .orderBy("lang")

  /** Kaplan–Meier survival of user lifetimes with right censoring:
    * churn events vs still-active censoring, exact risk sets. */
  private def qKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.kaplanMeier(ev.withColumn("event_time", Adapters.eventTime(ev)))
      .orderBy("t_hours")
  }

  /** First-order Markov transition matrix over user event sequences:
    * P(next | current) from exact bigram counts. */
  private def qMarkov(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.markovTransitions(ev.withColumn("event_time", Adapters.eventTime(ev)))
      .orderBy("cur", "nxt")
  }

  /** Markov removal-effect attribution: each channel credited by the
    * drop in the journey chain's absorption probability into
    * 'purchase' when the channel is removed. */
  private def qMarkovAttrib(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.markovAbsorption(ev.withColumn("event_time", Adapters.eventTime(ev)))
      .orderBy("channel")
  }

  /** Mann–Kendall monotonic-trend test over each symbol's last 120
    * closes — the nonparametric "is it trending" screen next to
    * [[qTheilSen]]'s slope estimate. */
  private def qMannKendall(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.mannKendall(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Strongly connected components of the DIRECTED intra-order part
    * sequence graph (part on line k → part on line k+1): which parts
    * sit in mutually-reachable "bought before and after" cycles.
    * Bounded FW-BW coloring — the directed sibling of q_dedup_groups. */
  private def qScc(s: SparkSession, dir: String): DataFrame = {
    // the >= 35 quantity screen (inside the mart) keeps the graph near
    // its percolation point (full lineitem is so dense every part
    // lands in ONE giant SCC — a correct but structureless answer)
    val e = Marts.sequenceEdges(s, dir)
    val comp = Graph.stronglyConnected(e, "src", "dst", rounds = 6)
    val sizes = comp.groupBy("scc_id").agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
    comp.join(sizes, "scc_id")
      .select(col("scc_id"), col("id"), col("n_members"))
      .orderBy("scc_id", "id")
  }

  /** Explicit GROUPING SETS with an asymmetric set list ROLLUP/CUBE
    * can't express, grouping() flags per dimension. */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Enrichment.revenueGroupingSets(s, dir)
      .orderBy(col("g_nation"), col("g_year"), col("g_priority"),
        col("nation").asc_nulls_first, col("order_year").asc_nulls_first,
        col("priority").asc_nulls_first)

  /** Market-basket association rules: top directed part rules by lift
    * (which parts PREDICT each other in an order, not just co-occur). */
  private def qAssocRules(s: SparkSession, dir: String): DataFrame =
    Enrichment.associationRules(Tables.lineitem(s, dir))
      .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
      .limit(100)

  /** Joint market + lagged-market OLS loadings per symbol (3×3 normal
    * equations in closed form) — the multi-factor step past
    * q_market_beta. */
  private def qTwoFactor(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.twoFactorRegression(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Sparse TF-IDF cosine similarity join through the rare-token
    * subspace — lexical near-dup pairs with bounded fan-out. */
  private def qSparseCosine(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.sparseCosinePairs(Tables.documents(s, dir), "doc_id", "text")

  /** Zipf rank–frequency slope per language over the top-100 tokens:
    * the corpus-quality screen that flags template spam (flat) and
    * over-deduped residue (steep); natural text ≈ −1. */
  private def qZipf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.zipfFit(Tables.documents(s, dir), "lang", "text", topR = 100)
      .orderBy("lang")

  /** Per-source Jensen–Shannon divergence from the corpus token
    * distribution: rank feeds by distributional drift, in bits. */
  private def qJsDivergence(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.jsDivergence(Tables.documents(s, dir), "source", "text")
      .withColumnRenamed("grp", "source")
      .orderBy("source")

  /** Hash-trick linear-classifier inference: every doc scored by a
    * vocabulary-free hashed linear model in one narrow scan. */
  private def qHashedClassifier(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.hashedLinearScore(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Reliability diagram of the hashed linear classifier against the
    * en/de language label: 10 equal-mass rank bins, mean rank-
    * probability vs empirical positive rate per bin — the ECE
    * decomposition, oracle-gated end to end. */
  private def qCalibration(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val scored = TextAnalysis.hashedLinearScore(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("lang").isin("en", "de").as("label")),
        "doc_id")
    Profiling.calibrationBins(scored, "doc_id", "score", "label")
      .orderBy("bin")
  }

  /** Bigram-LM commonness score (perplexity-filter stand-in, exact
    * integer sums + one scaled division). */
  private def qLmScore(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramCommonness(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Collocation mining: co-occurrence lift over the top-12 vocab. */
  private def qCooccurrence(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cooccurrenceLift(Tables.documents(s, dir), "doc_id", "text",
      vocabK = 12, minPairDocs = 2L)
      .orderBy("t1", "t2")

  /** Corpus boilerplate stripping: drop 3-gram spans shared by ≥ 25
    * docs, reassemble each document's surviving tokens. */
  private def qBoilerplate(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.stripHotShingles(Tables.documents(s, dir), "doc_id", "text",
      n = 3, minDocs = 25L)
      .orderBy("doc_id")

  /** Canonical text normalization ([[Funcs.normalizeText]]) + the
    * before/after length audit. */
  private def qTextNormalize(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), normalizeText(col("text")).as("norm_text"))
      .select(col("doc_id"), col("norm_text"),
        length(col("norm_text")).cast("long").as("norm_chars"),
        // split("", " ") = [""] — guard so empty/symbol-only docs count 0
        when(length(col("norm_text")) === 0, lit(0L))
          .otherwise(size(split(col("norm_text"), " ")).cast("long")).as("n_tokens"))
      .orderBy("doc_id")

  /** Integer PageRank over the customer↔supplier trade graph
    * (both directions of every distinct (cust, supp) trading pair;
    * node id = 2·custkey / 2·suppkey+1). Top 20 by rank. */
  private def qPagerank(s: SparkSession, dir: String): DataFrame = {
    val pairs = Marts.bipartiteEdges(s, dir)
    val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    Graph.pageRankScaled(edges, "a", "b", iters = 2)
      .select(col("id"), col("rank"),
        when(col("id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
        expr("id div 2").as("entity_id"))
      .orderBy(col("rank").desc, col("id"))
      .limit(20)
  }

  /** Personalized PageRank: restart mass pinned to the cohort of
    * round-number customers (custkey % 100 == 0) — which suppliers
    * sit closest to THIS customer segment, vs [[qPagerank]]'s global
    * rank. Same graph, same integer arithmetic, seed-restricted
    * restart. */
  private def qPpr(s: SparkSession, dir: String): DataFrame = {
    val pairs = Marts.bipartiteEdges(s, dir)
    val edges = pairs.union(pairs.select(col("b").as("a"), col("a").as("b")))
    val seeds = Tables.orders(s, dir)
      .filter(col("o_custkey") % 100 === 0)
      .select((col("o_custkey") * 2).as("id")).distinct()
    Graph.personalizedPageRank(edges, "a", "b", seeds, iters = 2)
      .select(col("id"), col("rank"),
        when(col("id") % 2 === 0, lit("customer")).otherwise(lit("supplier")).as("kind"),
        expr("id div 2").as("entity_id"))
      .orderBy(col("rank").desc, col("id"))
      .limit(20)
  }

  /** Compaction planning over the table's file inventory (per-ship-date
    * row counts stand in for file sizes; metadata-scale input). */
  private def qCompactionPlan(s: SparkSession, dir: String): DataFrame =
    graft.sources.Layout.compactionPlan(
      Tables.lineitem(s, dir).groupBy(col("l_shipdate"))
        .agg(count(lit(1)).as("n_rows")),
      orderCols = Seq("l_shipdate"), sizeCol = "n_rows", target = 20000L)
      .groupBy("bin")
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("total_rows"),
        min(col("l_shipdate")).as("from_date"), max(col("l_shipdate")).as("to_date"))
      .orderBy("bin")

  /** Semi/anti join audit: per nation, customers with ≥1 open order vs
    * customers with none (left_semi / left_anti — the EXISTS forms). */
  private def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val open = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("c_custkey"))
    val withOrders = cust.join(open, Seq("c_custkey"), "left_semi")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_with_open"))
    val without = cust.join(open, Seq("c_custkey"), "left_anti")
      .groupBy("c_nationkey").agg(count(lit(1)).as("n_without_open"))
    Tables.nation(s, dir).select(col("n_nationkey").as("c_nationkey"), col("n_name"))
      .join(withOrders, Seq("c_nationkey"), "left")
      .join(without, Seq("c_nationkey"), "left")
      .select(col("n_name").as("nation"),
        coalesce(col("n_with_open"), lit(0L)).as("n_with_open"),
        coalesce(col("n_without_open"), lit(0L)).as("n_without_open"))
      .orderBy("nation")
  }

  /** Mergeable KLL quantile sketches: per-returnflag sketches of
    * lineitem quantity rolled up to a global sketch by merge —
    * quantiles at every grain from one raw-data pass. Approximate
    * ⇒ no DuckDB oracle (rows-only check, like q_approx_distinct);
    * accuracy vs exact percentiles and the merge law live in
    * SketchesSpec. */
  private def qQuantileSketch(s: SparkSession, dir: String): DataFrame = {
    val per = Sketches.quantileSketchByGroup(
      Tables.lineitem(s, dir), Seq("l_returnflag"), "l_quantity")
    val global = Sketches.quantileRollup(per, Seq.empty)
      .withColumn("l_returnflag", lit("__all__"))
    Sketches.quantilesFromSketch(per.unionByName(global), Seq(0.5, 0.9, 0.99))
      .orderBy("l_returnflag")
  }

  /** The HLL sketch path under a FULL oracle via sparse-mode
    * exactness (the q_kll_quantiles companion): distinct LANGUAGES
    * per source is a handful of values — far below the lgK=12
    * sketch's sparse-to-dense threshold, where DataSketches HLL
    * stores raw coupons and the estimate IS the exact distinct
    * count. DuckDB states COUNT(DISTINCT) directly; q_approx_distinct
    * stays as the at-scale approximate demo. */
  private def qHllExact(s: SparkSession, dir: String): DataFrame =
    Sketches.distinctSketchByGroup(Tables.documents(s, dir), Seq("source"), "lang")
      .select(col("source"), col("n_rows"), col("approx_distinct"))
      .orderBy("source")

  /** The CMS sketch path under a FULL oracle via collision-free
    * exactness (the q_hll_exact / q_kll_quantiles companion): the
    * source dimension is ~20 distinct keys while the ε=0.001 sketch
    * row is ⌈2/ε⌉ = 2000 counters wide, and the hashes are
    * fixed-seed deterministic — so few keys across so wide a row land
    * collision-free in at least one of the depth rows, the
    * min-over-rows read returns the EXACT count, and DuckDB can state
    * grouped count(*) directly. The plan is the reverse grouping of
    * q_cms_frequency (per-LANG sketches over source values →
    * cms_merge_agg → broadcast → in-plan cms_estimate beside the
    * exact count), so the whole sketch→merge→read path is pinned by
    * the hash gate, not just the point read. q_cms_frequency stays as
    * the at-scale approximate demo. */
  private def qCmsExact(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir).select("source", "lang").snapshot()
    val merged = Sketches.cmsByGroup(base, Seq("lang"), "source")
      .agg(call_function("cms_merge_agg", col("cms")).as("cms"))
    base.groupBy("source").agg(count(lit(1)).as("exact_count"))
      .crossJoin(broadcast(merged))
      .select(col("source"),
        call_function("cms_estimate", col("cms"), col("source")).as("cms_estimate"),
        col("exact_count"))
      .orderBy("source")
  }

  /** The KLL sketch path under a FULL oracle via under-capacity
    * exactness (the q_approx_topk trick): per-nation supplier
    * balances stay far below the sketch's k=200 retention capacity,
    * so no compaction ever fires, every item is retained exactly, and
    * the INCLUSIVE-rank quantile read equals the order statistic
    * sorted[⌈p·n⌉] — which DuckDB states directly. q_quantile_sketch
    * remains the approximate-scale demo; this pins the same code path
    * (kll_sketch_agg_double → kll_sketch_get_quantile_double)
    * bit-for-bit. */
  private def qKllQuantiles(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
      .select(col("s_nationkey"), col("s_acctbal").cast("double").as("bal"))
    Sketches.quantilesFromSketch(
      Sketches.quantileSketchByGroup(sup, Seq("s_nationkey"), "bal"),
      Seq(0.25, 0.5, 0.75))
      .select(col("s_nationkey"), col("n_rows"),
        col("kll_n").cast("long").as("kll_n"),
        col("p25"), col("p50"), col("p75"))
      .orderBy("s_nationkey")
  }

  /** Mergeable approx-top-k heavy hitters: per-source frequent langs
    * accumulated once, combined to a global state, drained with a
    * deterministic (count DESC, item ASC) cut. Cardinality (langs per
    * source) is far under the 64-slot capacity, so counts are exact
    * and the DuckDB oracle checks the whole sketch path. */
  private def qApproxTopK(s: SparkSession, dir: String): DataFrame = {
    val per = Sketches.topKSketchByGroup(
      Tables.documents(s, dir), Seq("source"), "lang")
    val global = Sketches.topKRollup(per, Seq.empty)
      .withColumn("source", lit("__all__"))
    Sketches.topKFromSketch(per.unionByName(global), Seq("source"), k = 3)
      .orderBy("source", "rank")
  }

  /** Per-symbol OLS beta vs the equal-weight market index. */
  private def qMarketBeta(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.marketBeta(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Per-symbol maximum drawdown off the running close peak. */
  private def qMaxDrawdown(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.maxDrawdown(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Weekly OHLCV resample with first-open/last-close and exact VWAP. */
  private def qResampleWeekly(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.resampleOhlc(Marts.dailyBars(s, dir), "week")
      .orderBy("symbol", "period_start")

  /** Per-symbol annualized Sharpe ratio in exact integer sums. */
  private def qSharpe(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.sharpeRatio(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** On-balance volume: running signed-volume sum per symbol. */
  private def qObv(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.obv(Marts.dailyReturns(s, dir))
      .orderBy("symbol", "trade_date")

  /** Stochastic oscillator %K/%D over the 14-day channel. */
  private def qStochastic(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.stochastic(Marts.dailyBars(s, dir))
      .orderBy("symbol", "trade_date")

  /** Integer-recursive EMA-12 of the close (aggregate fold ≡ DuckDB
    * list_reduce — the recursion no window frame can express). */
  private def qEma(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.emaClose(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** MACD(12,26,9): one composite array-state integer fold per symbol. */
  private def qMacd(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.macd(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Bollinger/ATR/Keltner/Donchian band stack in one window pass. */
  private def qIndicatorBands(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.indicatorBands(Marts.dailyBars(s, dir))
      .orderBy("symbol", "trade_date")

  /** Textbook Wilder RSI-14 as an exact integer fold (vs the
    * reference's rolling-mean simplification in q_rolling_metrics). */
  private def qWilderRsi(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.wilderRsiExactFold(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Momentum-decile backtest: per-decile compounded portfolio return
    * (the factor-premium readout over q_momentum_deciles). */
  private def qDecileBacktest(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.decileBacktest(Marts.dailyBars(s, dir))

  /** Annualized Sortino (downside semideviation) per symbol. */
  private def qSortino(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.sortinoRatio(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Daily momentum information coefficient (signal vs forward return). */
  private def qFactorIc(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.factorIC(Marts.dailyBars(s, dir))

  /** Intraday microstructure: realized vol + tick imbalance per day. */
  private def qMicrostructure(s: SparkSession, dir: String): DataFrame =
    TickAnalytics.microstructureDaily(Adapters.ticks(s, dir))
      .orderBy("symbol", "trade_date")

  /** BPE learn + encode in one plan: top-8 merges become a broadcast
    * column, applied as rank-ordered greedy folds per doc.
    * Registered at DOC grain with an order-sensitive md5 digest of
    * the encoded token sequence — the token-grain posexplode form
    * multiplied rows ~50× + full sort purely for gate sortability
    * (1.8 s of bench). Any token difference, including order,
    * changes the digest; [[TextAnalysis.bpeEncode]] keeps the
    * token-array form, and the greedy-fold values are asserted
    * token-by-token in TextMultimodalSpec. Zero-token docs now KEEP
    * a row (md5 of the empty join on both engines) instead of
    * dropping with posexplode. Each token is LENGTH-PREFIXED before
    * the join so the serialization is injective — a plain ","-join
    * maps ["a,b"] and ["a","b"] to the same digest, which would let
    * a merge-boundary bug of exactly that shape slip the gate. */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bpeEncode(Tables.documents(s, dir), "doc_id", "text")
      .select(col("doc_id"), col("n_subwords"), col("n_bpe"),
        md5(concat_ws(",",
          transform(col("bpe_tokens"),
            t => concat(length(t).cast("string"), lit(":"), t)))).as("bpe_md5"))
      .orderBy("doc_id")

  /** Calendar gap-fill with forward-filled closes. */
  private def qCalendarFill(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.calendarFill(Marts.dailyBars(s, dir))
      .orderBy("symbol", "trade_date")

  /** Historical VaR(5%) + CVaR per symbol via exact order statistics. */
  private def qVarCvar(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.varCvar(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Lag-1 return autocorrelation per symbol (mean-reversion probe). */
  private def qAutocorrelation(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.autocorrelation(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Data-skipping estimate: the same synthetic file inventory probed
    * with a predicate on its CLUSTER key (near-total skipping) vs an
    * uncorrelated column (almost none) — the zorder payoff, measured. */
  private def qPruneEstimate(s: SparkSession, dir: String): DataFrame = {
    val files = Tables.lineitem(s, dir)
      .groupBy((col("l_orderkey") % 1000L).as("file_id"))
      .agg(min(col("l_orderkey")).as("okey_min"), max(col("l_orderkey")).as("okey_max"),
        min(col("l_extendedprice")).as("price_min"),
        max(col("l_extendedprice")).as("price_max"),
        count(lit(1)).as("n_rows"))
    // recluster: files keyed by orderkey ranges (sorted-ingest layout)
    val clustered = Tables.lineitem(s, dir)
      .groupBy(expr("l_orderkey div 1000").as("file_id"))
      .agg(min(col("l_orderkey")).as("okey_min"), max(col("l_orderkey")).as("okey_max"),
        min(col("l_extendedprice")).as("price_min"),
        max(col("l_extendedprice")).as("price_max"),
        count(lit(1)).as("n_rows"))
    graft.sources.Layout
      .pruneEstimate(clustered, "okey_min", "okey_max", "n_rows", 1000.0, 5000.0)
      .withColumn("layout", lit("clustered"))
      .unionByName(graft.sources.Layout
        .pruneEstimate(files, "okey_min", "okey_max", "n_rows", 1000.0, 5000.0)
        .withColumn("layout", lit("hash_scattered")))
      .orderBy("layout")
  }

  /** Pairs-trading spread z-score for the most-correlated pair. */
  private def qPairsSpread(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.pairsSpread(Marts.dailyReturns(s, dir))
      .orderBy("trade_date")

  /** Amihud illiquidity (price impact per dollar volume). */
  private def qAmihud(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.amihudIlliquidity(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Day-of-week seasonality (mean return / up-ratio per weekday). */
  private def qSeasonalityDow(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.seasonalityDow(Marts.dailyReturns(s, dir))
      .orderBy("dow")

  /** Purged walk-forward CV splits over the trading calendar. */
  private def qWalkForward(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.walkForwardSplits(Marts.dailyBars(s, dir))
      .orderBy("fold", "trade_date")

  /** Aroon(25) trend-age oscillator — windowed argmax via packed
    * integer keys, exact and codegen-friendly. */
  private def qAroon(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.aroon(Marts.dailyBars(s, dir))
      .orderBy("symbol", "trade_date")

  /** SMA-5 vs naive forecast backtest scored by MASE per symbol —
    * integer-exact absolute-error sums, one division each. */
  private def qMase(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.forecastMase(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Markowitz minimum-variance weight for the first symbol pair with
    * the full moment panel — exact DECIMAL(38,0) moments, clamped
    * no-shorting weight. */
  private def qMinVariance(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.minVariancePair(
      Marts.dailyReturns(s, dir))

  /** STL-lite additive decomposition of daily returns — trend
    * (centered MA-5), day-of-week seasonal, residual; the additive
    * identity holds to the rounding, under the full oracle. */
  private def qSeasonalDecompose(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.seasonalDecompose(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol", "trade_date")

  /** CUSUM changepoint per symbol: the most likely mean-shift day of
    * the return series with segment means either side — integer-exact
    * peak location under the full oracle. */
  private def qCusum(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.cusumChangepoint(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Hurst exponent by R/S analysis over {8,16,32}-day blocks: the
    * long-memory regime gauge per symbol, exact integer block moments
    * under the full oracle. */
  private def qHurst(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.hurstExponent(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Split-conformal calibration of the persistence forecast: per
    * symbol, the 90% conformal radius from the even-day calibration
    * split and its measured coverage on the odd-day eval split —
    * distribution-free interval calibration under the full oracle. */
  private def qConformal(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.conformalIntervals(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Int8 embedding quantization (per-vector symmetric scale).
    * Registered at component grain (vec_id, n_dims, scale, k, qv) —
    * scalar rows for the gate; [[Similarity.quantizeInt8]] keeps the
    * array form. */
  private def qEmbedQuantize(s: SparkSession, dir: String): DataFrame =
    Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
      .select(col("vec_id"), col("n_dims"), col("scale"),
        posexplode(col("q")).as(Seq("k", "qv")))
      .orderBy("vec_id", "k")

  /** Padded-batch waste: arrival-order vs length-sorted batching of
    * the corpus (batches of 32 per source shard) — the padding
    * economics behind length-grouped data loaders, as one 2-row
    * readout under the full oracle. */
  private def qPaddingEfficiency(s: SparkSession, dir: String): DataFrame =
    Packing.paddingEfficiency(Tables.documents(s, dir), "doc_id", "text",
      groupCol = "source")
      .orderBy("strategy")

  /** Two-sample KS distance between the first symbol pair's return
    * distributions — integer-exact sup-norm statistic with the 95%
    * critical-value flag. */
  private def qKsTest(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.ksTwoSample(
      Marts.dailyReturns(s, dir))

  /** Monotone market-dependence per symbol: Spearman ρ vs the
    * equal-weight index over exact doubled ranks. */
  private def qSpearmanMarket(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.spearmanVsMarket(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Theil-Sen robust price trend per symbol over the last 60 bars —
    * median-of-pairwise-slopes, pair fan-out bounded by the window. */
  private def qTheilSen(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.theilSenTrend(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Rank-based regime-shift test per symbol: first vs second half of
    * each history through the tie-corrected Mann-Whitney U, with the
    * doubled statistic exact and AUC effect size. */
  private def qMannWhitney(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.mannWhitneySplit(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Welch unequal-variance t-test per metric between the parity
    * arms — the analysis-time mean test beside q_mde's design-time
    * power readout. */
  private def qWelchTtest(s: SparkSession, dir: String): DataFrame =
    Cohorts.welchTTest(Tables.events(s, dir)).orderBy("metric")

  /** Kruskal–Wallis tie-corrected H per day across the event-type
    * groups — rank-based one-way ANOVA, the k-group companion to
    * q_mann_whitney. */
  private def qKruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.kruskalWallis(ev.withColumn("event_time", Adapters.eventTime(ev)))
      .orderBy("d")
  }

  /** Flesch / Flesch–Kincaid readability with the vowel-run syllable
    * proxy and a longest-consonant-run gibberish signal — one narrow
    * codegen'd scan, no shuffle. */
  private def qReadability(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.readability(Tables.documents(s, dir))
      .orderBy("doc_id")

  /** Multinomial naive Bayes language classifier: even doc_ids train,
    * odd score; exact scaled-long log-likelihood sums, long-exact
    * argmax and margin. */
  private def qNaiveBayes(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.naiveBayesLang(Tables.documents(s, dir))
      .orderBy("doc_id")

  /** χ² feature ranking of tokens against the is-English label —
    * exact 2×2 marginals, deterministic double tree, top-50. */
  private def qChi2Features(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.chi2Features(Tables.documents(s, dir),
      labelExpr = col("lang") === "en")
      .orderBy("rnk")

  /** Interval-overlap range join, bucket-decomposed: per-(user, day)
    * activity spans against each event type's first-6-hours daily
    * window — a shuffled equi join on hour buckets with exactly-once
    * pair assignment, never a nested loop (see RangeJoin scaladoc). */
  private def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val base = ev
      .withColumn("event_time", Adapters.eventTime(ev))
      .select(col("user_id"), col("event_type"),
        to_date(col("event_time")).as("d"),
        expr("unix_micros(cast(event_time as timestamp)) div 1000000L").as("es"))
    val userDay = base.groupBy(col("user_id"), col("d").as("u_day"))
      .agg(min(col("es")).as("u_start"), max(col("es")).as("u_end"),
        count(lit(1)).as("n_events"))
    val window6h = base.groupBy(col("event_type"), col("d"))
      .agg(min(col("es")).as("w_start"))
      .withColumn("w_end", col("w_start") + lit(6L * 3600L))
    RangeJoin.overlapJoin(userDay, window6h,
        "u_start", "u_end", "w_start", "w_end")
      .select(col("user_id"), col("event_type"), col("d"),
        (least(col("u_end"), col("w_end")) -
          greatest(col("u_start"), col("w_start"))).as("overlap_sec"),
        col("n_events"))
      .orderBy("user_id", "event_type", "d")
  }

  /** Ljung–Box white-noise portmanteau test per symbol: Q over the
    * first 5 return autocorrelations — the ARMA-order screen. */
  private def qLjungBox(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.ljungBox(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** RiskMetrics EWMA volatility (λ=0.94) per symbol via the exact
    * integer fold — the recursive vol estimate beside the rolling
    * stddev window. */
  private def qEwmaVol(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.ewmaVolatility(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Granger-causality screen over adjacent symbol pairs at lag 1:
    * restricted-vs-unrestricted OLS F-test from exact moments. */
  private def qGranger(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.grangerAdjacent(
      Marts.dailyReturns(s, dir))
      .orderBy("s1", "s2")

  /** Chow structural-break test per symbol at the panel midpoint:
    * pooled-vs-split trend OLS F — the offline regime-shift screen. */
  private def qChowBreak(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.chowBreak(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** GARCH(1,1) variance filter with variance targeting (α=6%, β=92%,
    * ω=(1−α−β)·v̄): the mean-reverting sibling of q_ewma_vol. */
  private def qGarchFilter(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.garchFilter(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Holt double exponential smoothing per symbol (level + linear
    * trend): final state, 5-day forecast, in-sample one-step MAE. */
  private def qHoltLinear(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.holtLinear(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Jarque–Bera normality test per symbol from exact power sums:
    * skewness, kurtosis, JB vs the χ²₂ 5% critical value. */
  private def qJarqueBera(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.jarqueBera(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Lead–lag CCF over adjacent symbol pairs at lags −2..+2 with the
    * best-|ρ| lag — the price-discovery screen. */
  private def qLeadLag(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.leadLagAdjacent(
      Marts.dailyReturns(s, dir))
      .orderBy("s1", "s2")

  /** Newey–West HAC t-test of the mean daily return per symbol
    * (Bartlett kernel, L=2): drift significance under autocorrelation. */
  private def qNeweyWest(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.neweyWest(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Wald–Wolfowitz runs test per symbol: is the return-sign sequence
    * random? z from exact run/sign counts. */
  private def qRunsTest(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.runsTest(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Upside/downside beta split vs the equal-weight market index,
    * with the β⁺/β⁻ capture ratio. */
  private def qUpdownBeta(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.upDownBeta(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** WOE / information value of the cross-sectional return decile as
    * a next-day-direction predictor — the feature screen. */
  private def qWoeIv(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.woeIv(
      Marts.dailyReturns(s, dir))
      .orderBy("decile")

  /** Omega ratio at threshold 0: Σ gains / Σ |losses| per symbol. */
  private def qOmegaRatio(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.omegaRatio(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Calmar ratio: annualized return over |max drawdown|. */
  private def qCalmar(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.calmarRatio(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Durbin-Watson first-order serial-correlation diagnostic per
    * symbol, exact integer moments. */
  private def qDurbinWatson(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.durbinWatson(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** SAX symbolic words: PAA chunks + equiprobable rank letters —
    * the discrete shape sketch of each symbol's close series. */
  private def qSax(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.saxWords(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Cross-sectional quantile normalization of the returns panel
    * (rank-matched to the cross-symbol mean distribution). */
  private def qQuantileNorm(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.quantileNormalize(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol", "trade_date")

  /** Gopher quality-rule panel over the corpus: the seven MassiveWeb
    * heuristics as additive per-rule signals. */
  private def qGopherRules(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id")

  /** Fixed-point Goertzel tone energies over the PCM lane: 5 bins of
    * a 64-sample window, integer resonator, bit-portable. */
  private def qAudioGoertzel(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val hexCols = (0 until 8).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    val media = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        unhex(concat(hexCols: _*)).as("payload"))
      .repartition(parts, col("media_id"))
    Multimodal.goertzelPower(media)
      .orderBy("media_id", "bin_k")
  }

  /** Ulcer index + Martin ratio: RMS drawdown depth and the
    * drawdown-denominated Sharpe analog. */
  private def qUlcerIndex(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.ulcerIndex(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Ornstein–Uhlenbeck half-life of mean reversion per symbol,
    * composed on the [[qDickeyFuller]] AR(1) coefficient: θ =
    * −ln(1+γ), half-life = ln2/θ days — how long a price shock takes
    * to decay halfway (the pairs-trading holding-period dial). Uses
    * the ROUNDED γ the DF lane publishes, so the compose stays
    * bit-stable across engines. */
  private def qOuHalflife(s: SparkSession, dir: String): DataFrame = {
    val df = DailyAnalytics.dickeyFuller(Marts.dailyBars(s, dir))
    val gr = col("gamma")
    // γ ∈ (−1, 0) only: at γ ≤ −1, 1+γ ≤ 0 and the log has no real
    // value (DuckDB ln ERRORS there; Spark would silently NULL)
    val mean = gr < 0 && gr > -1
    df.select(col("symbol"), col("n_days"), col("gamma"),
        rd(when(mean, -log(lit(1.0) + gr)), 6).as("reversion_theta"),
        rd(when(mean, -log(lit(2.0)) / log(lit(1.0) + gr)), 4).as("half_life_days"),
        col("reject_unit_root"))
      .orderBy("symbol")
  }

  /** Local clustering coefficient over the part co-purchase graph
    * (same edge construction as [[qTriangles]]) — full node set. */
  private def qClusteringCoef(s: SparkSession, dir: String): DataFrame = {
    val pairs = Marts.copurchasePairs(s, dir)
    Graph.clusteringCoefficient(pairs, "u", "v")
      .orderBy("id")
  }

  /** PMI collocations over the corpus: top adjacent-bigram
    * associations by pointwise mutual information. */
  private def qPmiCollocations(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.pmiCollocations(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("rank")

  /** Benjamini–Hochberg step-up FDR control over the per-symbol
    * mean-return z-tests — the multiple-testing layer for the
    * per-symbol screen lanes. */
  private def qBhFdr(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.bhFdr(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Engle–Granger cointegration screen over adjacent symbol pairs:
    * exact-moment cointegrating OLS + DF test on the residual. */
  private def qCointegration(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.cointegrationAdjacent(Marts.dailyBars(s, dir))
      .orderBy("s1", "s2")

  /** Roll implied effective spread per symbol from the serial
    * covariance of close changes — the bid-ask bounce estimator. */
  private def qRollSpread(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.rollSpread(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Parkinson / Garman–Klass / Rogers–Satchell annualized range
    * volatility per symbol from the OHLC bars alone. */
  private def qRangeVol(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.rangeVolatility(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Tracking error and information ratio of each symbol vs the
    * equal-weight market — exact-long active returns. */
  private def qTrackingError(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.trackingError(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Dickey–Fuller unit-root screen per symbol: Δp on lagged p,
    * exact-moment OLS with the DF t-statistic. */
  private def qDickeyFuller(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.dickeyFuller(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Derandomized Poisson hash-bootstrap CI of each symbol's mean
    * daily return: B=20 replicates whose weights are pure hash
    * functions — replayable resampling, no RNG. */
  private def qHashBootstrap(s: SparkSession, dir: String): DataFrame =
    Sampling.hashBootstrapCi(
      Marts.dailyReturns(s, dir)
        .filter(col("daily_return_pct").isNotNull),
      "symbol", col("trade_date"), scaled(col("daily_return_pct"), 4))
      .withColumnRenamed("grp", "symbol")
      .orderBy("symbol")

  /** Dimson thin-trading beta per symbol: OLS on concurrent + lagged
    * market return via exact-moment Cramer solve; sum beta recovers
    * co-movement the plain beta understates. */
  private def qDimsonBeta(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.dimsonBeta(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Always-valid sequential A/B monitor over the event stream:
    * per-day mSPRT likelihood ratio and anytime p-value. */
  private def qMsprt(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.msprtMonitor(ev.withColumn("event_time", Adapters.eventTime(ev)))
      .orderBy("day")
  }

  /** Kendall τ-b vs the equal-weight market index over each symbol's
    * last 60 trading days: concordance-based co-movement, bounded
    * O(S·W²) pair fan-out. */
  private def qKendallMarket(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.kendallVsMarket(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Difference-in-differences over the event stream: odd/even user
    * split × midpoint period split, mean event value as outcome. */
  private def qDid(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.diffInDiff(ev.withColumn("event_time", Adapters.eventTime(ev)))
  }

  /** Lo–MacKinlay variance-ratio random-walk screen per symbol:
    * VR(5) over scaled close differences, exact second moments. */
  private def qVarianceRatio(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.varianceRatio(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Page–Hinkley sequential changepoint per symbol: integer-exact
    * drawdown-direction alarm statistic over scaled daily returns. */
  private def qPageHinkley(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.pageHinkley(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Lorenz curve of customer revenue at decile grain — "top decile
    * holds X%" via the distributed closed-form ntile. */
  private def qLorenz(s: SparkSession, dir: String): DataFrame =
    Profiling.lorenzCurve(Tables.orders(s, dir), "o_custkey",
      scaled(col("o_totalprice"), 2))
      .orderBy("tier")

  /** Per-nation Gini coefficient of customer revenue — exact integer
    * Lorenz rank form down to one final division, oracle-gated. */
  private def qGini(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.orders(s, dir).groupBy(col("o_custkey"))
      .agg(sum(scaled(col("o_totalprice"), 2)).as("rev_c"))
    val df = rev
      .join(Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name").as("nation"), col("o_custkey").as("custkey"),
        col("rev_c"))
    Profiling.giniConcentration(df, "nation", "custkey", col("rev_c"))
      .orderBy("nation")
  }

  /** ε-DP language counts by the derandomized two-sided geometric
    * mechanism — keyed-PRF noise from integer threshold comparisons,
    * replayable and fully oracle-checked. */
  private def qDpCounts(s: SparkSession, dir: String): DataFrame =
    Profiling.dpGroupCounts(Tables.documents(s, dir), "lang")
      .orderBy("lang")

  /** Benford first-digit screen over order totals: leading-digit
    * distribution vs the log10(1+1/d) law — the broken-feed /
    * fabricated-amounts data-quality gauge, oracle-gated. */
  private def qBenford(s: SparkSession, dir: String): DataFrame =
    Profiling.benfordDigits(
      Tables.orders(s, dir), col("o_totalprice"))
      .orderBy("digit")

  /** k-anonymity sweep over the (lang, source) quasi-identifier:
    * per k, the equivalence classes under size k and the rows they
    * expose — the privacy release-gate readout. */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame =
    Profiling.kAnonymity(Tables.documents(s, dir), Seq("lang", "source"))

  /** Distinct l-diversity for the same quasi tuple with the length
    * band as the sensitive attribute — catches homogeneous classes
    * k-anonymity alone misses. */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame =
    Profiling.lDiversity(
      Tables.documents(s, dir).withColumn("len_band", expr("n_chars DIV 100")),
      Seq("lang", "source"), "len_band")

  /** Snapshot drift monitor: exact TVD between the length
    * distributions of two corpus halves (doc_id parity = the two
    * "ingest snapshots"). */
  private def qDistributionDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Profiling.distributionDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      length(col("text")), lo = 0L, hi = 600L, nBuckets = 20)
  }

  /** Cross-sectional z-scored returns (per-day standardization). */
  private def qCrossSectionalZ(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.crossSectionalZ(Marts.dailyReturns(s, dir))
      .orderBy("symbol", "trade_date")

  /** 1-month momentum ranked into cross-sectional deciles per day. */
  private def qMomentumDeciles(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.momentumDeciles(Marts.dailyBars(s, dir))
      .orderBy("symbol", "trade_date")

  /** Real PCM16 audio framing: 128 deterministic bytes per doc (8
    * chained md5s) parsed as 64 little-endian signed samples, framed
    * by 16 → exact integer energy/peak per frame. No codec involved
    * (raw PCM is already the decoded form), so the full audio path is
    * real computation under a DuckDB oracle that parses the same hex. */
  private def qAudioFrames(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val hexCols = (0 until 8).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    val media = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        unhex(concat(hexCols: _*)).as("payload"))
      .repartition(parts, col("media_id")) // CPU-bound parse stage
    Multimodal.pcmFrameFeatures(media, frameSamples = 16)
      .orderBy("media_id", "frame_idx")
  }

  /** End-to-end WAV audio lane, zero non-JDK codecs: the same
    * deterministic PCM16 payloads as q_audio_frames are wrapped in a
    * real RIFF/WAV container (Multimodal.toWav, per-doc sample rate)
    * and then PARSED BACK by Multimodal.wavFrameFeatures — chunk
    * walk, fmt/data extraction, PCM16 framing — so both the encode
    * and decode sides of the container really execute. The oracle
    * states the closed form (frame energies from the md5-chain hex +
    * the arithmetic sample rate), which only matches if the container
    * round-trip is byte-exact. */
  private def audioWavFrames(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val hexCols = (0 until 8).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    val pcm = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        unhex(concat(hexCols: _*)).as("payload"),
        (lit(8000) + (col("doc_id") % 3) * 4000).cast("int").as("sample_rate"))
      .repartition(parts, col("media_id")) // CPU-bound parse stage
    Multimodal.wavFrameFeatures(Multimodal.toWav(pcm, "sample_rate"), frameSamples = 16)
  }

  private def qAudioWav(s: SparkSession, dir: String): DataFrame =
    audioWavFrames(s, dir).orderBy("media_id", "frame_idx")

  /** G.711 μ-law WAV lane — a REAL compressed-audio codec under the
    * hash gate: the md5-chain bytes are treated as a μ-law byte
    * stream, wrapped in a format-7 WAV container, then PARSED AND
    * EXPANDED by Multimodal.wavFrameFeatures (sign/exponent/mantissa
    * integer decode, ±32124 range). The oracle states the same ITU
    * expansion arithmetic over the hex, so a single wrong bit in the
    * codec breaks the hash. 128 μ-law samples per doc, frames of 32. */
  private def qAudioUlaw(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val hexCols = (0 until 8).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    val codes = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        unhex(concat(hexCols: _*)).as("payload"),
        lit(8000).as("sample_rate"))
      .repartition(parts, col("media_id")) // CPU-bound decode stage
    Multimodal.wavFrameFeatures(
        Multimodal.toWav(codes, "sample_rate", audioFormat = Multimodal.WavUlaw),
        frameSamples = 32)
      .orderBy("media_id", "frame_idx")
  }

  /** IMA ADPCM WAV lane — the second real compressed-audio codec
    * under the hash gate, and unlike μ-law a STATEFUL one: the
    * md5-chain bytes are treated as one format-0x11 ADPCM block
    * (4-byte header = initial predictor + step index, then 248 4-bit
    * nibbles, low nibble first), wrapped in a WAV container and then
    * PARSED AND DECODED by Multimodal.wavFrameFeatures through the
    * standard IMA step/index state machine. The oracle replays the
    * identical state machine as a list_reduce fold over the hex in
    * DuckDB, so ONE wrong step-table entry, clamp, or nibble order
    * desyncs every subsequent sample and breaks the hash. 249 linear
    * samples per doc, frames of 32. */
  private def qAudioAdpcm(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val hexCols = (0 until 8).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    val blocks = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        unhex(concat(hexCols: _*)).as("payload"),
        lit(8000).as("sample_rate"))
      .repartition(parts, col("media_id")) // CPU-bound decode stage
    Multimodal.wavFrameFeatures(
        Multimodal.toWav(blocks, "sample_rate", audioFormat = Multimodal.WavImaAdpcm),
        frameSamples = 32)
      .orderBy("media_id", "frame_idx")
  }

  /** Subband/wavelet codec lane — LeGall 5/3 integer lifting (the
    * JPEG2000 reversible filter) over the deterministic PCM16 series,
    * ENTIRELY relational on both engines: predict/update lifting as
    * lag/lead windows, mid-tread quantization of the detail band, and
    * decoder-faithful reconstruction error stats. */
  private def qAudioWavelet(s: SparkSession, dir: String): DataFrame = {
    val hexCols = (0 until 8).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    val samples = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"), concat(hexCols: _*).as("hx"))
      .select(col("media_id"), explode(sequence(lit(0), lit(63))).as("i"), col("hx"))
      .select(col("media_id"), col("i"),
        (conv(expr("substring(hx, i * 4 + 1, 2)"), 16, 10).cast("long") +
          conv(expr("substring(hx, i * 4 + 3, 2)"), 16, 10).cast("long") * 256L).as("u"))
      .select(col("media_id"), col("i"),
        when(col("u") >= 32768L, col("u") - 65536L).otherwise(col("u")).as("x"))
    Multimodal.wavelet53Features(samples, step = 16)
      .orderBy("media_id")
  }

  /** Transform-coded lossy image lane — the codec class the audio
    * matrix (PCM16/µ-law/ADPCM) was missing: each doc's md5-chain
    * bytes form an 8×8 grayscale raster pushed through a REAL integer
    * JPEG-style round trip (level shift → 2^11-scaled integer DCT →
    * quality-scaled quantization (T.81 Annex K table, libjpeg quality
    * scaling) → dequantize → integer IDCT → clamp), with per-doc
    * quality ∈ {50, 75, 100}. The oracle restates the whole transform
    * as integer matrix products over the same hex in DuckDB — one
    * wrong basis entry, quant-table entry, clamp or rounding rule
    * breaks the hash on every doc. Output: rate proxies (quantized
    * DC, nonzero count) + exact distortion (max |Δ|, SSE, Σ recon). */
  private def imageDctFeats(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val hexCols = (0 until 4).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    val rasters = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        unhex(concat(hexCols: _*)).as("payload"),
        (lit(50) + (col("doc_id") % 3) * 25).cast("int").as("quality"))
      .repartition(parts, col("media_id")) // CPU-bound transform stage
    Multimodal.imageDctFeatures(rasters, "quality")
  }

  private def qImageDct(s: SparkSession, dir: String): DataFrame =
    imageDctFeats(s, dir).orderBy("media_id")

  /** Integral-image 3×3 box filter over the same md5-chain rasters —
    * the pure window/join formulation (no per-row closure): summed-
    * area table as two cumulative windows, box sums as 4 signed
    * corner lookups through one equi join, exact high-pass energy. */
  private def qBoxFilter(s: SparkSession, dir: String): DataFrame =
    Multimodal.boxFilterFeatures(rasterPixels(s, dir)).orderBy("media_id")

  /** The md5-chain 8×8 raster at pixel grain — shared input of the
    * pure-relational image lanes (box filter, gradient histogram). */
  private def rasterPixels(s: SparkSession, dir: String): DataFrame = {
    val hexCols = (0 until 4).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        concat(hexCols: _*).as("hx"))
      .select(col("media_id"), explode(sequence(lit(0), lit(63))).as("i"), col("hx"))
      .select(col("media_id"),
        expr("i div 8").cast("long").as("y"),
        (col("i") % 8).cast("long").as("x"),
        conv(expr("substring(hx, i * 2 + 1, 2)"), 16, 10).cast("long").as("v"))
  }

  /** HOG-lite 8-bin gradient-orientation histogram per raster:
    * lead−lag central differences, octant from sign/magnitude CASE,
    * L1-magnitude votes — exact integers end to end. */
  private def qImageGradients(s: SparkSession, dir: String): DataFrame =
    Multimodal.gradientHistogram(rasterPixels(s, dir)).orderBy("media_id")

  /** Rate–distortion summary of the DCT lane: per quality level, the
    * exact entropy-cost proxy (total/mean nonzero coefficients) vs the
    * exact distortion (total/mean SSE, worst pixel error) — the curve
    * a codec-selection pass publishes. One partial-aggregable rollup
    * over the same scan-stage transform. */
  private def qImageRd(s: SparkSession, dir: String): DataFrame =
    imageDctFeats(s, dir)
      .groupBy("quality")
      .agg(
        count(lit(1)).as("n_images"),
        sum(col("n_nonzero")).as("total_nonzero"),
        sum(col("sse")).as("total_sse"),
        max(col("max_abs_err")).as("worst_err"))
      .select(col("quality"), col("n_images"),
        col("total_nonzero").cast("long").as("total_nonzero"),
        col("total_sse").cast("long").as("total_sse"),
        col("worst_err"),
        graft.functions.Funcs.rd(
          col("total_nonzero").cast("double") / col("n_images"), 4).as("avg_nonzero"),
        graft.functions.Funcs.rd(
          col("total_sse").cast("double") / col("n_images"), 4).as("avg_sse"))
      .orderBy("quality")

  /** AVI video-container lane — the NESTED-RIFF container format
    * under the hash gate: the md5-chain bytes become four 8×4
    * grayscale DIB frames wrapped in a real AVI (LIST hdrl with
    * avih + strl/strh/strf, LIST movi with one 00db chunk per frame,
    * per-doc integer fps in the stream header), then PARSED BACK by
    * Multimodal.aviFrameFeatures — nested chunk walk, header
    * round trip, frame slicing, exact per-frame raster stats. Frames
    * are uncompressed BY CHOICE (the gray-PNG discipline): codec-free
    * payloads keep the decode oracle-stateable while the container
    * plumbing is fully real. */
  private def aviVideo(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val hexCols = (0 until 8).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    val vids = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        unhex(concat(hexCols: _*)).as("payload"),
        (lit(24) + (col("doc_id") % 2) * 6).cast("int").as("fps"))
      .repartition(parts, col("media_id")) // CPU-bound parse stage
    Multimodal.toAvi(vids, "fps", width = 8, height = 4)
  }

  private def qVideoFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.aviFrameFeatures(aviVideo(s, dir))
      .orderBy("media_id", "frame_idx")

  /** Motion segmentation composed on the AVI lane: container parse →
    * consecutive-frame pixel deltas (frame 0 vs black) → contiguous
    * high-motion runs as segments, REUSING the audio lane's
    * [[graft.operators.Multimodal.energySegments]] islands op
    * unchanged — frame deltas drop into the same (media_id,
    * frame_idx, n_samples, energy, peak) shape voiced frames use. The
    * 2720 threshold is the expected Σ|Δ| of a 32-pixel frame under
    * ~uniform content, so the deterministic payloads split into a
    * nontrivial motion/static mix and run boundaries are exercised. */
  private def qVideoMotion(s: SparkSession, dir: String): DataFrame =
    Multimodal.energySegments(
        Multimodal.aviFrameDeltas(aviVideo(s, dir)),
        minFrameEnergy = 2720L)
      .orderBy("media_id", "seg_idx")

  /** The compressed-blob ingestion lane: every document compressed AND
    * decompressed with all four Spark-shipped codecs (JDK gzip,
    * zstd-jni, lz4-java block + carried length, snappy-java) in one
    * narrow pass, each verified byte-identical, with the digest taken
    * from the RESTORED bytes so the oracle's closed form only matches
    * if decode∘encode really is the identity through real codec
    * libraries ([[graft.operators.Compression]]). */
  private def qBlobCodecs(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    Compression.codecMatrix(
        Tables.documents(s, dir).repartition(parts, col("doc_id")),
        "doc_id", "text")
      .orderBy("doc_id")
  }

  /** Silence-trim / voice-activity segmentation composed on the WAV
    * lane: container parse → frame energies → contiguous
    * above-threshold runs as segments (relational islands — two
    * windows + one grouped agg, no state). The 5.7e9 threshold is the
    * expected 16-sample frame energy of ~uniform int16 content, so
    * the deterministic payloads split into a nontrivial voiced/
    * silent mix and segment boundaries actually exercise the run
    * grouping. */
  private def qAudioVad(s: SparkSession, dir: String): DataFrame =
    Multimodal.energySegments(
        audioWavFrames(s, dir).drop("sample_rate", "n_channels"),
        minFrameEnergy = 5700000000L)
      .orderBy("media_id", "seg_idx")

  /** Local triangle counts over the part co-purchase graph (parts
    * linked when they ship together in >= 2 orders — the standard
    * market-basket minimum-support cut, which prunes the one-off
    * random pairings that would otherwise dominate the edge set) —
    * degree-ordered orientation, top 100 vertices. */
  /** Label-propagation communities over the same customer–supplier
    * bipartite graph as q_pagerank: top-20 communities by size after
    * 2 deterministic synchronous rounds. */
  private def qCommunities(s: SparkSession, dir: String): DataFrame = {
    val pairs = Marts.bipartiteEdges(s, dir)
    Graph.labelPropagation(pairs, "a", "b", iters = 2)
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_members").desc, col("community").asc)))
      .filter(col("rank") <= 20)
      .orderBy("rank")
  }

  /** Bounded-round k-core peel over the customer↔supplier bipartite
    * graph (k = 30 ≈ the degree median, so the peel actually cascades
    * at both SFs): the density filter that strips weakly-connected
    * nodes before ranking. The oracle unrolls the IDENTICAL rounds in
    * SQL, so round count, degree definition and the final surviving
    * degrees must all agree. */
  private def qKcore(s: SparkSession, dir: String): DataFrame = {
    val pairs = Marts.bipartiteEdges(s, dir)
    Graph.kCore(pairs, "a", "b", k = 30, rounds = 4)
      .withColumn("kind",
        when(col("id") % 2 === 0, lit("customer")).otherwise(lit("supplier")))
      .orderBy("id")
  }

  /** HITS hubs/authorities over the DIRECTED customer→supplier
    * purchase graph: customers that buy from many well-bought-from
    * suppliers are hubs; suppliers bought by many broad customers are
    * authorities — the query-dependent companion to [[qPagerank]]'s
    * global rank, exact-integer through the final share division. */
  private def qHits(s: SparkSession, dir: String): DataFrame = {
    val edges = Marts.bipartiteEdges(s, dir)
    Graph.hits(edges, "a", "b", iters = 2)
      .withColumn("kind",
        when(col("id") % 2 === 0, lit("customer")).otherwise(lit("supplier")))
      .orderBy(col("auth_share").desc, col("id"))
      .limit(20)
  }

  /** Degree-capped Adamic-Adar link prediction over the part
    * co-purchase graph: which part pairs that have NOT co-occurred in
    * any order are most likely to, by weighted common neighbors. */
  private def qLinkPredict(s: SparkSession, dir: String): DataFrame = {
    val pairs = Marts.copurchasePairs(s, dir)
    Graph.adamicAdar(pairs, "u", "v", cap = 64)
      .orderBy(col("score").desc, col("u"), col("v"))
      .limit(50)
  }

  private def qTriangles(s: SparkSession, dir: String): DataFrame = {
    val pairs = Marts.copurchasePairs(s, dir)
    Graph.triangleCounts(pairs, "u", "v")
      .orderBy(col("triangles").desc, col("id"))
      .limit(100)
  }

  /** Kneser-Ney count tables (unigram, distinct successors/
    * predecessors, scaled continuation probability) over the corpus. */
  private def qNgramLm(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.ngramLmCounts(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("token")

  /** Per-document OOV rate against the corpus's top-8 vocabulary
    * (the synthetic corpus has ~31 distinct tokens, so top-8 leaves a
    * real OOV tail to measure). */
  private def qVocabCoverage(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocabCoverage(Tables.documents(s, dir), "doc_id", "text", vocabK = 8)
      .orderBy("doc_id")

  /** Heaps'-law vocabulary growth at nested corpus prefixes —
    * the new-vocabulary-per-data curve, exact counts under the full
    * oracle. */
  private def qHeapsLaw(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.heapsLaw(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("pct")

  /** Drawdown duration per symbol: longest underwater spell with its
    * dates plus total underwater days — gaps-and-islands on exact
    * cent closes. */
  private def qDrawdownDuration(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.drawdownDuration(
      Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** RAKE keyword extraction: top-3 stopword-delimited phrases per
    * doc scored by summed degree/freq word scores — the classic
    * unsupervised keyword primitive, integer-scaled so the phrase
    * sum is order-free and fully oracle-checked. */
  private def qRakeKeywords(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.rakeKeywords(Tables.documents(s, dir), "doc_id", "text")
      .orderBy("doc_id", "rank")

  /** Snapshot diff between two deterministically-derived versions of
    * the orders table: v1 drops orderkey%7=0, v2 drops orderkey%5=0
    * and bumps the (cent-scaled) price by 100 on orderkey%3=0 — so
    * every status (added/removed/changed/unchanged) is exercised.
    * Prices compare as exact cent longs, never as formatted doubles. */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), scaled(col("o_totalprice"), 2).as("price_c"),
        col("o_orderstatus"))
    val v1 = base.filter(col("o_orderkey") % 7 =!= 0)
    val v2 = base.filter(col("o_orderkey") % 5 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, col("price_c") + 100L)
          .otherwise(col("price_c")).as("price_c"),
        col("o_orderstatus"))
    Versioning.snapshotDiff(v1, v2, Seq("o_orderkey"), Seq("price_c", "o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** PQ/ADC approximate top-k over the embeddings — the memory-side
    * half of IVF-PQ (32 subspaces × 16 codes over the 64-dim vectors,
    * one Lloyd round per subspace), same md5-seeded codebook family
    * as q_sim_ivf. */
  private def qSimPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.pqTopK(emb, evalPanel(emb),
      "vec_id", "embedding", k = 5, m = 32, ksub = 16, dim = 64, refineIters = 1)
      .orderBy("query_id", "rank")
  }

  /** Set-operation coverage: customers ordering in both 1995 and 1996
    * (INTERSECT) minus those also ordering in 1997 (EXCEPT). */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    def custsIn(year: Int) = Tables.orders(s, dir)
      .filter(org.apache.spark.sql.functions.year(col("o_orderdate")) === year)
      .select(col("o_custkey"))
    custsIn(1995).intersect(custsIn(1996)).except(custsIn(1997))
      .orderBy("o_custkey")
  }

  /** Fama–MacBeth two-pass regression of returns on 20-day momentum:
    * per-day cross-sectional slopes, then their time-series mean and
    * t-stat — the standard risk-premium screen. */
  private def qFamaMacbeth(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.famaMacbeth(Marts.dailyReturns(s, dir))

  /** KPSS level-stationarity test per symbol (Bartlett lag 2) — the
    * stationary-null complement of q_dickey_fuller. */
  private def qKpss(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.kpss(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Engle ARCH-LM heteroskedasticity test per symbol at lag 1 —
    * the pre-test gate for the GARCH/EWMA variance lane. */
  private def qArchLm(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.archLm(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Order-3 permutation entropy per symbol — the model-free
    * complexity/randomness score of the return sequence. */
  private def qPermEntropy(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.permutationEntropy(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Rolling 20-day VWAP band with close deviation, each symbol's
    * last 100 sessions — the execution-quality benchmark. */
  private def qRollingVwap(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.rollingVwap(Marts.dailyBars(s, dir))
      .orderBy("symbol", "trade_date")

  /** Wilder ADX trend-strength filter per symbol (integer Wilder
    * smoothing of ±DM, true range cancels in DX). */
  private def qAdx(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.adxFilter(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Bounded multi-source BFS over the co-purchase graph: hop
    * histogram from the 8 smallest part ids within 4 hops — the
    * seed-coverage profile of the part graph. */
  private def qBfsHops(s: SparkSession, dir: String): DataFrame =
    Graph.bfsHops(Marts.copurchasePairs(s, dir), "u", "v")
      .orderBy("hops")

  /** Histogram equalization over the md5-chain rasters: 16-bin CDF
    * remap, full-raster checksum + contrast-stretch gain. */
  private def qImageHisteq(s: SparkSession, dir: String): DataFrame =
    Multimodal.histogramEqualize(rasterPixels(s, dir)).orderBy("media_id")

  /** 2:1 PCM decimation (pair-average anti-alias) over the audio
    * lane: per-frame output energy, checksum, peak. */
  private def qAudioResample(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val hexCols = (0 until 8).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    val media = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        unhex(concat(hexCols: _*)).as("payload"))
      .repartition(parts, col("media_id")) // CPU-bound parse stage
    Multimodal.resamplePcm(media, frameSamples = 16)
      .orderBy("media_id", "frame_idx")
  }

  /** Otsu automatic threshold per raster: exact between-class
    * variance argmax over the 16-bin histogram, lowest-bin ties. */
  private def qImageOtsu(s: SparkSession, dir: String): DataFrame =
    Multimodal.otsuThreshold(rasterPixels(s, dir)).orderBy("media_id")

  /** 3×3 binary erosion/dilation over the v ≥ 128 mask (separable
    * window counting, interior-only) + morphological gradient. */
  private def qImageMorphology(s: SparkSession, dir: String): DataFrame =
    Multimodal.morphology3x3(rasterPixels(s, dir)).orderBy("media_id")

  /** Per-frame zero-crossing rate + Σ|v| over the PCM16 audio lane —
    * the voiced/unvoiced/noise discriminator next to frame energy. */
  private def qAudioZcr(s: SparkSession, dir: String): DataFrame = {
    val parts = s.sessionState.conf.numShufflePartitions
    val hexCols = (0 until 8).map(i =>
      if (i == 0) md5(col("text")) else md5(concat(col("text"), lit(i.toString))))
    val media = Tables.documents(s, dir)
      .select(col("doc_id").cast("long").as("media_id"),
        unhex(concat(hexCols: _*)).as("payload"))
      .repartition(parts, col("media_id")) // CPU-bound parse stage
    Multimodal.zcrFrames(media, frameSamples = 16)
      .orderBy("media_id", "frame_idx")
  }

  /** Kyle's lambda price-impact slope per symbol: OLS of signed
    * return on signed dollar volume, exact decimal moments. */
  private def qKyleLambda(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.kyleLambda(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Additive Holt–Winters (5-session trading-week season) per
    * symbol as one integer fold: level/trend/seasonal + 1-day
    * forecast and one-step MAE. */
  private def qHoltWinters(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.holtWinters(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Sampled closeness + harmonic centrality from the 8 smallest
    * part ids over the co-purchase graph (4-hop landmark BFS). */
  private def qCloseness(s: SparkSession, dir: String): DataFrame =
    Graph.closenessSample(Marts.copurchasePairs(s, dir), "u", "v")
      .orderBy("seed")

  /** TextRank keywords: exact-integer PageRank over the length-≥4
    * word co-occurrence graph, top 20. */
  private def qTextrank(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.textRank(Tables.documents(s, dir), "text")
      .orderBy("rank_pos")

  /** Cramér's V between market segment and order priority per
    * region: full-grid χ² with scale-9 quantized cell terms. */
  private def qCramersV(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
    Profiling.cramersV(df, "r_name", "c_mktsegment", "o_orderpriority")
      .withColumnRenamed("grp", "region")
      .orderBy("region")
  }

  /** Mutual information between market segment and order priority per
    * region — the info-theoretic sibling of [[qCramersV]] on the same
    * grid: MI/H_a/H_b/NMI in nats from occupied cells only. */
  private def qMutualInfo(s: SparkSession, dir: String): DataFrame = {
    val df = Tables.orders(s, dir)
      .join(Tables.customer(s, dir),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)),
        col("n_regionkey") === col("r_regionkey"))
    Profiling.mutualInfo(df, "r_name", "c_mktsegment", "o_orderpriority")
      .withColumnRenamed("r_name", "region")
      .orderBy("region")
  }

  /** Rich-club coefficient ladder over the co-purchase graph: do the
    * hub parts preferentially co-occur with each other. */
  private def qRichClub(s: SparkSession, dir: String): DataFrame =
    Graph.richClub(Marts.copurchasePairs(s, dir), "u", "v")
      .orderBy("k")

  /** Exponential inter-arrival fit + one-sample KS per event-type
    * "symbol": is the tick flow Poisson, gap-wise. The ts column is
    * normalized to epoch NANOS whether the session read it as a raw
    * long (nanosAsLong) or as TIMESTAMP_NTZ (the data's
    * sub-microsecond bits are zero, so micros*1000 is exact). */
  private def qInterarrival(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val tns = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => col("ts")
      case _ => expr("unix_micros(cast(ts as timestamp)) * 1000")
    }
    TickAnalytics.interarrivalFit(
      ev.select(col("event_type").as("symbol"), tns.as("ts"), col("event_id")))
      .orderBy("symbol")
  }

  /** VPIN flow toxicity per event-type "symbol": tick-rule
    * classification with carried sign, 50-trade buckets, mean
    * absolute order-flow imbalance over full buckets. */
  private def qVpin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    TickAnalytics.vpin(ev.select(col("event_type").as("symbol"),
        Adapters.eventTime(ev).as("ts"), col("event_id"),
        col("value").as("price")))
      .orderBy("symbol")
  }

  /** Entropy rate of the event-type journey chain: per-state row
    * entropy, stationary weight, and rate contribution (bits). */
  private def qEntropyRate(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.entropyRate(ev.withColumn("event_time", Adapters.eventTime(ev)))
      .orderBy("state")
  }

  /** Dirichlet-smoothed query-likelihood top-20 for the shared
    * 4-term query — the LM-retrieval baseline beside BM25. */
  private def qQlmDirichlet(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qlmTopK(Tables.documents(s, dir), "doc_id", "text",
      terms = Seq("spark", "vector", "stream", "hash"), k = 20)
      .orderBy("rank")

  /** Daily HHI volume concentration across symbols + top share —
    * the market-breadth screen. */
  private def qHhi(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.hhiConcentration(Marts.dailyBars(s, dir))
      .orderBy("trade_date")

  /** Theil-T / MLD / Atkinson(1) revenue inequality across customers
    * (per-key totals of scale-2 order value). */
  private def qTheilInequality(s: SparkSession, dir: String): DataFrame =
    Profiling.theilInequality(
      Tables.orders(s, dir), "o_custkey", scaled(col("o_totalprice"), 2))

  /** Seasonal-naive MASE gate per symbol: naive-1 vs same-weekday
    * benchmark over the shared scored window ([[qMase]] is the SMA-5
    * sibling; this one scores against the 5-day SEASONAL benchmark). */
  private def qMaseSeasonal(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.maseSeasonalNaive(Marts.dailyBars(s, dir))
      .orderBy("symbol")

  /** Tick-grain price-impact panel: 50-trade buckets, net move vs
    * total variation ([[TickAnalytics.tickImpactPanel]]). */
  private def qTickImpact(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    TickAnalytics.tickImpactPanel(ev.select(col("event_type").as("symbol"),
        Adapters.eventTime(ev).as("ts"), col("event_id"),
        col("value").as("price")))
      .orderBy("symbol")
  }

  /** Corwin–Schultz high-low spread estimator per symbol. */
  private def qCorwinSchultz(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.corwinSchultz(Marts.dailyBars(s, dir)).orderBy("symbol")

  /** t-closeness audit over (lang, source) classes with the n_chars
    * century bucket as the ordered sensitive attribute. */
  private def qTCloseness(s: SparkSession, dir: String): DataFrame =
    Profiling.tCloseness(Tables.documents(s, dir),
      Seq("lang", "source"), expr("n_chars div 100"))

  /** Deterministic fixed-k reservoir sample of events (bottom-100 by
    * id hash), hash-ordered output. */
  private def qReservoirSample(s: SparkSession, dir: String): DataFrame =
    Sampling.reservoirFixedK(
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type")),
      "event_id", 100)
      .orderBy("h", "event_id")

  /** Cohen's κ between the stored lang label and the n-gram lang-ID
    * prediction — the chance-corrected agreement scalar. */
  private def qCohensKappa(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.cohensKappa(Tables.documents(s, dir), "lang", "text")

  /** One-way ANOVA F across day-of-week return groups — the
    * parametric weekday-seasonality test. */
  private def qAnovaDow(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.anovaDow(Marts.dailyReturns(s, dir))

  /** McNemar paired conversion change within user journeys:
    * discordant-pair χ² with an all-integer significance gate. */
  private def qMcnemar(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    Cohorts.mcnemar(ev.withColumn("event_time", Adapters.eventTime(ev)))
  }

  /** Cochran's Q across the five event-type treatments — the
    * k-treatment McNemar over per-user presence marks. */
  private def qCochranQ(s: SparkSession, dir: String): DataFrame =
    Cohorts.cochranQ(Tables.events(s, dir))

  /** Friedman rank test + Page's L across day-of-week treatments
    * with symbols as blocks. */
  private def qFriedman(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.friedmanDow(Marts.dailyReturns(s, dir))

  /** Bounded 2-round 3-truss peel of the co-purchase graph (the
    * triangle core: every surviving edge sits in >= 1 triangle among
    * survivors — k=3 because the co-purchase graph at the gate SFs is
    * too sparse for a non-empty 4-truss, and an always-empty gate
    * result would verify nothing). */
  private def qKtruss(s: SparkSession, dir: String): DataFrame =
    Graph.kTruss(Marts.copurchasePairs(s, dir), "u", "v", k = 3)
      .orderBy("u", "v")

  /** Dolma-style paragraph-grain dedup over documents re-chunked into
    * 12-token newline-joined paragraphs (the corpus has no natural
    * paragraph breaks; the fixed chunking is mirrored in the oracle,
    * and near-dup docs make ~4% of chunks genuinely repeat). */
  private def qDedupParagraph(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), array_join(
        transform(sequence(lit(0), expr("(size(w) + 11) div 12 - 1")),
          i => concat_ws(" ", slice(col("w"), i * lit(12) + lit(1), lit(12)))),
        "\n").as("para_text"))
    Dedup.paragraphDedup(d, "doc_id", "para_text").orderBy("doc_id")
  }

  /** Good-Turing unseen-mass + Chao1 vocabulary estimate over the
    * corpus unigram counts. */
  private def qGoodTuring(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.goodTuring(Tables.documents(s, dir), "doc_id", "text")

  /** Noise-robust realized-kernel variance per (symbol, day) beside
    * q_microstructure's plain realized vol. Registered at minMoves=5
    * (operator default 30) because sf0.001 has a ~7-tick median
    * symbol-day — an always-empty gate result would verify nothing
    * (the q_ktruss k=3 convention). */
  private def qRealizedKernel(s: SparkSession, dir: String): DataFrame =
    TickAnalytics.realizedKernel(Adapters.ticks(s, dir), minMoves = 5)
      .orderBy("symbol", "trade_date")

  /** Hill tail-index over daily losses per symbol. */
  private def qHillTail(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.hillTail(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Brown–Forsythe weekday variance-homogeneity test (the robust
    * Levene, beside q_anova_dow's mean test). */
  private def qBrownForsythe(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.brownForsythe(Marts.dailyReturns(s, dir))

  /** Pettitt rank change-point scan per symbol. */
  private def qPettitt(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.pettittTest(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Juilland's D dispersion for the top-50 corpus tokens across
    * sources. */
  private def qTokenDispersion(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenDispersion(Tables.documents(s, dir),
      "doc_id", "text", "source")

  /** Bradley–Terry strengths over daily head-to-head outperformance:
    * symbol i "beats" j on every day its scale-4 return is strictly
    * higher (ties dropped); 2 unrolled MM rounds. The pair grid comes
    * from the blocked co-partitioned device
    * ([[graft.operators.DailyAnalytics.headToHead]]) — the naive
    * day-grain self-join was the r16 composite-scaling miss. */
  private def qBradleyTerry(s: SparkSession, dir: String): DataFrame = {
    // snapshot the pair grid BEFORE the orientation union: both union
    // branches read the S²/2-row materialized grid instead of each
    // re-running the blocked S²·D fan-out (unsnapshotted, the union
    // doubled the lane's task time — r17 profile: 87 task-s vs the
    // single-pass lanes' ~40 on the same device)
    val p = DailyAnalytics.headToHead(Marts.dailyReturns(s, dir)).snapshot()
    val both = p.select(col("i"), col("j"), col("n"), col("wi"))
      .unionByName(p.select(col("j").as("i"), col("i").as("j"), col("n"),
        (col("n") - col("wi")).as("wi")))
    Cohorts.bradleyTerry(both).orderBy("symbol")
  }

  /** Unbiased pass@5 per user-task over events (success = value > 10). */
  private def qPassAtK(s: SparkSession, dir: String): DataFrame =
    Cohorts.passAtK(Tables.events(s, dir), "user_id", col("value") > 10)
      .orderBy("task")

  /** Kupiec POF VaR backtest: 5% VaR fit on each symbol's first half,
    * violation-rate LR scored on the second. */
  private def qKupiecPof(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.kupiecPof(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Rank-biased overlap between the doc-parity halves' top-10 token
    * rankings (order-sensitive vocabulary drift). depth=10 because the
    * synthetic vocabulary is ~31 tokens — under the truncated-RBO
    * contract identical rankings must be able to score 1, which needs
    * depth ≤ list length. */
  private def qRboDrift(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.rboDrift(Tables.documents(s, dir), "doc_id", "text",
      depth = 10)

  /** Online Elo ratings per symbol vs the equal-weight market. */
  private def qEloMarket(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.eloVsMarket(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Brier score + skill vs climatology for the trailing-20-day
    * positive-return-rate forecast. */
  private def qBrierSkill(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.brierSkill(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Pinball loss of train-half quantile forecasts across the τ
    * ladder, scored on the test half. */
  private def qPinballLoss(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.pinballEval(Marts.dailyReturns(s, dir))
      .orderBy("symbol", "tau")

  /** 1-D Wasserstein distance of each source's doc-length
    * distribution from the corpus. */
  private def qWassersteinDrift(s: SparkSession, dir: String): DataFrame =
    Profiling.wassersteinDrift(Tables.documents(s, dir), "source", "text")
      .orderBy("source")

  /** Shannon/Simpson token diversity + Pielou evenness per source. */
  private def qDiversityIndex(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.diversityIndex(Tables.documents(s, dir), "source", "text")
      .orderBy("source")

  /** Conditional Drawdown-at-Risk (5%) per symbol. */
  private def qCdar(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.cdar(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Energy distance between each symbol's history halves. */
  private def qEnergyDistance(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.energyDistanceSplit(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Moving-average type-token ratio per source (window 25). */
  private def qMattr(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.mattr(Tables.documents(s, dir), "source", "text")
      .orderBy("source")

  /** Upper/lower tail dependence vs the equal-weight market. */
  private def qTailDependence(s: SparkSession, dir: String): DataFrame =
    DailyAnalytics.tailDependence(Marts.dailyReturns(s, dir))
      .orderBy("symbol")

  /** Dunning G² keyness between the doc-parity halves, top 25. */
  private def qKeynessLlr(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.keynessLlr(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("g2_llr").desc, col("token"))

  /** Church-Gale variance-to-mean token burstiness, top 50. */
  private def qTokenBurstiness(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tokenBurstiness(Tables.documents(s, dir), "doc_id", "text")
      .orderBy(col("n_occ").desc, col("token"))

  // ──────────────────────────────────────────────────────────────────
  // Registry
  // ──────────────────────────────────────────────────────────────────

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_clean_project" -> (qCleanProject _),
    "q_daily_returns" -> (qDailyReturns _),
    "q_rolling_metrics" -> (qRollingMetrics _),
    "q_mart_stock_performance" -> (qMartStockPerformance _),
    "q_returns_join_rolling" -> (qReturnsJoinRolling _),
    "q_mart_daily_summary" -> (qMartDailySummary _),
    "q_mart_sector_summary" -> (qMartSectorSummary _),
    "q_quality_audit" -> (qQualityAudit _),
    "q_tick_windows_15m" -> (qTickWindows15m _),
    "q_stream_windows_15m" -> (qStreamWindows15m _),
    "q_tick_windows_1h" -> (qTickWindows1h _),
    "q_realtime_analytics" -> (qRealtimeAnalytics _),
    "q_mart_realtime_signals" -> (qMartRealtimeSignals _),
    "q_pricing_summary" -> (qPricingSummary _),
    "q_asof_join" -> (qAsOfJoin _),
    "q_attribution" -> (qAttribution _),
    "q_session_windows" -> (qSessionWindows _),
    "q_session_dynamic" -> (qSessionDynamic _),
    "q_rollup_revenue" -> (qRollupRevenue _),
    "q_cube_revenue" -> (qCubeRevenue _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_merge_delete" -> (qMergeDelete _),
    "q_revenue_by_nation" -> (qRevenueByNation _),
    "q_scalar_funcs" -> (qScalarFuncs _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_text_analysis" -> (qTextAnalysis _),
    "q_corpus_filter" -> (qCorpusFilter _),
    "q_dedup_minhash_lsh" -> (qDedupMinhashLsh _),
    "q_dedup_recall" -> (qDedupRecall _),
    "q_winnowing" -> (qWinnowing _),
    "q_dedup_fuzzy" -> (qDedupFuzzy _),
    "q_containment" -> (qContainment _),
    "q_tfidf_search" -> (qTfidfSearch _),
    "q_outlier_mad" -> (qOutlierMad _),
    "q_winsorize" -> (qWinsorize _),
    "q_trading_gaps" -> (qTradingGaps _),
    "q_pair_correlation" -> (qPairCorrelation _),
    "q_incremental_stats" -> (qIncrementalStats _),
    "q_topk_per_group" -> (qTopkPerGroup _),
    "q_retention" -> (qRetention _),
    "q_cuped_lift" -> (qCupedLift _),
    "q_churn_hazard" -> (qChurnHazard _),
    "q_event_paths" -> (qEventPaths _),
    "q_fano_factor" -> (qFanoFactor _),
    "q_covariate_balance" -> (qCovariateBalance _),
    "q_mde" -> (qMde _),
    "q_activity_heatmap" -> (qActivityHeatmap _),
    "q_srm_check" -> (qSrmCheck _),
    "q_funnel" -> (qFunnel _),
    "q_funnel_windowed" -> (qFunnelWindowed _),
    "q_inverted_index" -> (qInvertedIndex _),
    "q_bpe_merges" -> (qBpeMerges _),
    "q_percent_rank" -> (qPercentRank _),
    "q_random_projection" -> (qRandomProjection _),
    "q_rate_anomaly" -> (qRateAnomaly _),
    "q_cluster_terms" -> (qClusterTerms _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_mixture_sample" -> (qMixtureSample _),
    "q_token_budget" -> (qTokenBudget _),
    "q_dedup_groups" -> (qDedupGroups _),
    "q_dedup_groups_star" -> (qDedupGroupsStar _),
    "q_dedup_keep" -> (qDedupKeep _),
    "q_dedup_canonical" -> (qDedupCanonical _),
    "q_dedup_report" -> (qDedupReport _),
    "q_dedup_incremental" -> (qDedupIncremental _),
    "q_url_dedup" -> (qUrlDedup _),
    "q_sample_split" -> (qSampleSplit _),
    "q_decontamination" -> (qDecontamination _),
    "q_decontamination_bloom" -> (qDecontaminationBloom _),
    "q_decontamination_multi" -> (qDecontaminationMulti _),
    "q_doc_packing" -> (qDocPacking _),
    "q_padding_efficiency" -> (qPaddingEfficiency _),
    "q_doc_chunks" -> (qDocChunks _),
    "q_content_chunks" -> (qContentChunks _),
    "q_pivot" -> (qPivot _),
    "q_unpivot" -> (qUnpivot _),
    "q_full_outer" -> (qFullOuter _),
    "q_token_rarity" -> (qTokenRarity _),
    "q_cross_doc_ngrams" -> (qCrossDocNgrams _),
    "q_dup_spans" -> (qDupSpans _),
    "q_source_cap" -> (qSourceCap _),
    "q_source_profile" -> (qSourceProfile _),
    "q_scd2" -> (qScd2 _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_cms_frequency" -> (qCmsFrequency _),
    "q_skew_salted" -> (qSkewSalted _),
    "q_dedup_ngram_jaccard" -> (qDedupNgramJaccard _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_sim_topk" -> (qSimTopK _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_sim_ann_lsh" -> (qSimAnnLsh _),
    "q_sim_recall" -> (qSimRecall _),
    "q_mrl_recall" -> (qMrlRecall _),
    "q_retrieval_ndcg" -> (qRetrievalNdcg _),
    "q_lang_confusion" -> (qLangConfusion _),
    "q_embedding_drift" -> (qEmbeddingDrift _),
    "q_sim_near_dup" -> (qSimNearDup _),
    "q_sim_ivf" -> (qSimIvf _),
    "q_sim_ivf_refined" -> (qSimIvfRefined _),
    "q_ivf_assign" -> (qIvfAssign _),
    "q_kmeans_refine" -> (qKmeansRefine _),
    "q_group_centroids" -> (qGroupCentroids _),
    "q_semdedup" -> (qSemDedup _),
    "q_dedup_embedding" -> (qDedupEmbedding _),
    "q_rolling_hash" -> (qRollingHash _),
    "q_multimodal_frames" -> (qMultimodalFrames _),
    "q_multimodal_decode" -> (qMultimodalDecode _),
    "q_layout_zorder" -> (qLayoutZorder _),
    "q_layout_hilbert" -> (qLayoutHilbert _),
    "q_calendar_rolling" -> (qCalendarRolling _),
    "q_quantiles" -> (qQuantiles _),
    "q_repetition" -> (qRepetition _),
    "q_pii_signals" -> (qPiiSignals _),
    "q_stratified_sample" -> (qStratifiedSample _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_json_extract" -> (qJsonExtract _),
    "q_histogram" -> (qHistogram _),
    "q_ntile_deciles" -> (qNtileDeciles _),
    "q_skew_join" -> (qSkewJoin _),
    "q_bm25" -> (qBm25 _),
    "q_hashed_classifier" -> (qHashedClassifier _),
    "q_calibration" -> (qCalibration _),
    "q_lm_score" -> (qLmScore _),
    "q_cooccurrence" -> (qCooccurrence _),
    "q_boilerplate" -> (qBoilerplate _),
    "q_text_normalize" -> (qTextNormalize _),
    "q_pagerank" -> (qPagerank _),
    "q_ppr" -> (qPpr _),
    "q_compaction_plan" -> (qCompactionPlan _),
    "q_semi_anti" -> (qSemiAnti _),
    "q_triangles" -> (qTriangles _),
    "q_kcore" -> (qKcore _),
    "q_hits" -> (qHits _),
    "q_link_predict" -> (qLinkPredict _),
    "q_rrf_fusion" -> (qRrfFusion _),
    "q_zipf" -> (qZipf _),
    "q_js_divergence" -> (qJsDivergence _),
    "q_kaplan_meier" -> (qKaplanMeier _),
    "q_markov" -> (qMarkov _),
    "q_markov_attrib" -> (qMarkovAttrib _),
    "q_mann_kendall" -> (qMannKendall _),
    "q_scc" -> (qScc _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_assoc_rules" -> (qAssocRules _),
    "q_two_factor" -> (qTwoFactor _),
    "q_sparse_cosine" -> (qSparseCosine _),
    "q_assortativity" -> (qAssortativity _),
    "q_pca_power" -> (qPcaPower _),
    "q_mh_lift" -> (qMhLift _),
    "q_token_fertility" -> (qTokenFertility _),
    "q_communities" -> (qCommunities _),
    "q_ngram_lm" -> (qNgramLm _),
    "q_vocab_coverage" -> (qVocabCoverage _),
    "q_rake_keywords" -> (qRakeKeywords _),
    "q_heaps_law" -> (qHeapsLaw _),
    "q_drawdown_duration" -> (qDrawdownDuration _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_set_ops" -> (qSetOps _),
    "q_sim_pq" -> (qSimPq _),
    "q_quantile_sketch" -> (qQuantileSketch _),
    "q_kll_quantiles" -> (qKllQuantiles _),
    "q_hll_exact" -> (qHllExact _),
    "q_cms_exact" -> (qCmsExact _),
    "q_temperature_mixture" -> (qTemperatureMixture _),
    "q_threshold_sweep" -> (qThresholdSweep _),
    "q_column_profile" -> (qColumnProfile _),
    "q_k_anonymity" -> (qKAnonymity _),
    "q_benford" -> (qBenford _),
    "q_dp_counts" -> (qDpCounts _),
    "q_gini" -> (qGini _),
    "q_ks_test" -> (qKsTest _),
    "q_mann_whitney" -> (qMannWhitney _),
    "q_welch_ttest" -> (qWelchTtest _),
    "q_interval_overlap" -> (qIntervalOverlap _),
    "q_naive_bayes" -> (qNaiveBayes _),
    "q_readability" -> (qReadability _),
    "q_chi2_features" -> (qChi2Features _),
    "q_kruskal_wallis" -> (qKruskalWallis _),
    "q_bh_fdr" -> (qBhFdr _),
    "q_ljung_box" -> (qLjungBox _),
    "q_ewma_vol" -> (qEwmaVol _),
    "q_granger" -> (qGranger _),
    "q_chow_break" -> (qChowBreak _),
    "q_garch_filter" -> (qGarchFilter _),
    "q_holt_linear" -> (qHoltLinear _),
    "q_jarque_bera" -> (qJarqueBera _),
    "q_lead_lag" -> (qLeadLag _),
    "q_newey_west" -> (qNeweyWest _),
    "q_runs_test" -> (qRunsTest _),
    "q_updown_beta" -> (qUpdownBeta _),
    "q_woe_iv" -> (qWoeIv _),
    "q_omega_ratio" -> (qOmegaRatio _),
    "q_calmar" -> (qCalmar _),
    "q_ulcer_index" -> (qUlcerIndex _),
    "q_durbin_watson" -> (qDurbinWatson _),
    "q_sax" -> (qSax _),
    "q_quantile_norm" -> (qQuantileNorm _),
    "q_gopher_rules" -> (qGopherRules _),
    "q_audio_goertzel" -> (qAudioGoertzel _),
    "q_ou_halflife" -> (qOuHalflife _),
    "q_clustering_coef" -> (qClusteringCoef _),
    "q_pmi_collocations" -> (qPmiCollocations _),
    "q_variance_ratio" -> (qVarianceRatio _),
    "q_fama_macbeth" -> (qFamaMacbeth _),
    "q_kpss" -> (qKpss _),
    "q_arch_lm" -> (qArchLm _),
    "q_perm_entropy" -> (qPermEntropy _),
    "q_rolling_vwap" -> (qRollingVwap _),
    "q_adx" -> (qAdx _),
    "q_bfs_hops" -> (qBfsHops _),
    "q_image_histeq" -> (qImageHisteq _),
    "q_audio_resample" -> (qAudioResample _),
    "q_image_otsu" -> (qImageOtsu _),
    "q_image_morphology" -> (qImageMorphology _),
    "q_audio_zcr" -> (qAudioZcr _),
    "q_kyle_lambda" -> (qKyleLambda _),
    "q_holt_winters" -> (qHoltWinters _),
    "q_closeness" -> (qCloseness _),
    "q_textrank" -> (qTextrank _),
    "q_cramers_v" -> (qCramersV _),
    "q_vpin" -> (qVpin _),
    "q_entropy_rate" -> (qEntropyRate _),
    "q_qlm_dirichlet" -> (qQlmDirichlet _),
    "q_hhi" -> (qHhi _),
    "q_theil_inequality" -> (qTheilInequality _),
    "q_mase_seasonal" -> (qMaseSeasonal _),
    "q_tick_impact" -> (qTickImpact _),
    "q_reservoir_sample" -> (qReservoirSample _),
    "q_corwin_schultz" -> (qCorwinSchultz _),
    "q_t_closeness" -> (qTCloseness _),
    "q_cochran_q" -> (qCochranQ _),
    "q_friedman" -> (qFriedman _),
    "q_ktruss" -> (qKtruss _),
    "q_mutual_info" -> (qMutualInfo _),
    "q_rich_club" -> (qRichClub _),
    "q_interarrival" -> (qInterarrival _),
    "q_dedup_paragraph" -> (qDedupParagraph _),
    "q_good_turing" -> (qGoodTuring _),
    "q_realized_kernel" -> (qRealizedKernel _),
    "q_hill_tail" -> (qHillTail _),
    "q_brown_forsythe" -> (qBrownForsythe _),
    "q_pettitt" -> (qPettitt _),
    "q_token_dispersion" -> (qTokenDispersion _),
    "q_kupiec_pof" -> (qKupiecPof _),
    "q_rbo_drift" -> (qRboDrift _),
    "q_bradley_terry" -> (qBradleyTerry _),
    "q_pass_at_k" -> (qPassAtK _),
    "q_cohens_kappa" -> (qCohensKappa _),
    "q_anova_dow" -> (qAnovaDow _),
    "q_mcnemar" -> (qMcnemar _),
    "q_page_hinkley" -> (qPageHinkley _),
    "q_kendall_market" -> (qKendallMarket _),
    "q_did" -> (qDid _),
    "q_dimson_beta" -> (qDimsonBeta _),
    "q_msprt" -> (qMsprt _),
    "q_hash_bootstrap" -> (qHashBootstrap _),
    "q_roll_spread" -> (qRollSpread _),
    "q_range_vol" -> (qRangeVol _),
    "q_tracking_error" -> (qTrackingError _),
    "q_dickey_fuller" -> (qDickeyFuller _),
    "q_cointegration" -> (qCointegration _),
    "q_theil_sen" -> (qTheilSen _),
    "q_spearman_market" -> (qSpearmanMarket _),
    "q_lorenz" -> (qLorenz _),
    "q_l_diversity" -> (qLDiversity _),
    "q_stream_sessions" -> (qStreamSessions _),
    "q_stream_dedup" -> (qStreamDedup _),
    "q_stream_topk" -> (qStreamTopk _),
    "q_stream_ab" -> (qStreamAb _),
    "q_stream_cusum" -> (qStreamCusum _),
    "q_stream_ewma" -> (qStreamEwma _),
    "q_stream_join" -> (qStreamJoin _),
    "q_stream_join_outer" -> (qStreamJoinOuter _),
    "q_approx_topk" -> (qApproxTopK _),
    "q_audio_frames" -> (qAudioFrames _),
    "q_audio_wav" -> (qAudioWav _),
    "q_audio_vad" -> (qAudioVad _),
    "q_audio_ulaw" -> (qAudioUlaw _),
    "q_audio_adpcm" -> (qAudioAdpcm _),
    "q_audio_wavelet" -> (qAudioWavelet _),
    "q_image_dct" -> (qImageDct _),
    "q_box_filter" -> (qBoxFilter _),
    "q_image_gradients" -> (qImageGradients _),
    "q_image_rd" -> (qImageRd _),
    "q_video_frames" -> (qVideoFrames _),
    "q_video_motion" -> (qVideoMotion _),
    "q_blob_codecs" -> (qBlobCodecs _),
    "q_market_beta" -> (qMarketBeta _),
    "q_max_drawdown" -> (qMaxDrawdown _),
    "q_resample_weekly" -> (qResampleWeekly _),
    "q_sharpe" -> (qSharpe _),
    "q_obv" -> (qObv _),
    "q_stochastic" -> (qStochastic _),
    "q_ema" -> (qEma _),
    "q_macd" -> (qMacd _),
    "q_indicator_bands" -> (qIndicatorBands _),
    "q_cross_sectional_z" -> (qCrossSectionalZ _),
    "q_momentum_deciles" -> (qMomentumDeciles _),
    "q_decile_backtest" -> (qDecileBacktest _),
    "q_sortino" -> (qSortino _),
    "q_factor_ic" -> (qFactorIc _),
    "q_wilder_rsi" -> (qWilderRsi _),
    "q_microstructure" -> (qMicrostructure _),
    "q_distribution_drift" -> (qDistributionDrift _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_embed_quantize" -> (qEmbedQuantize _),
    "q_calendar_fill" -> (qCalendarFill _),
    "q_walk_forward" -> (qWalkForward _),
    "q_conformal" -> (qConformal _),
    "q_hurst" -> (qHurst _),
    "q_cusum" -> (qCusum _),
    "q_mase" -> (qMase _),
    "q_aroon" -> (qAroon _),
    "q_seasonal_decompose" -> (qSeasonalDecompose _),
    "q_min_variance" -> (qMinVariance _),
    "q_var_cvar" -> (qVarCvar _),
    "q_autocorrelation" -> (qAutocorrelation _),
    "q_prune_estimate" -> (qPruneEstimate _),
    "q_seasonality_dow" -> (qSeasonalityDow _),
    "q_amihud" -> (qAmihud _),
    "q_pairs_spread" -> (qPairsSpread _),
    "q_elo_market" -> (qEloMarket _),
    "q_brier_skill" -> (qBrierSkill _),
    "q_pinball_loss" -> (qPinballLoss _),
    "q_wasserstein_drift" -> (qWassersteinDrift _),
    "q_diversity_index" -> (qDiversityIndex _),
    "q_cdar" -> (qCdar _),
    "q_energy_distance" -> (qEnergyDistance _),
    "q_mattr" -> (qMattr _),
    "q_tail_dependence" -> (qTailDependence _),
    "q_keyness_llr" -> (qKeynessLlr _),
    "q_token_burstiness" -> (qTokenBurstiness _)
  )

  def oracleSql: Map[String, String] = OracleSql.all
}
