package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs._
import graft.sources.Staging.Snapshottable

/** Realtime (tick-lane) analytics: the reference's
  * `spark_stream_batch_processor.py` window aggregations + the
  * `stg_realtime_stock_analytics` → `int_realtime_enriched` →
  * `mart_realtime_signals` dbt chain, as `DataFrame => DataFrame` stages.
  *
  * Canonical tick schema: symbol (any type), event_time (timestamp),
  * price (double), volume (long).
  *
  * Reference semantics mirrored from:
  *   - src/spark/jobs/spark_stream_batch_processor.py:42-75 (A1, A2, J1)
  *   - dbt/models/staging/stg_realtime_stock_analytics.sql:24-65
  *   - dbt/models/intermediate/int_realtime_enriched.sql:30-105
  *   - dbt/models/marts/mart_realtime_signals.sql:28-72
  *
  * Scale notes:
  *   - Tumbling windows are computed with `window(event_time, d)` — a
  *     map-side bucket assignment + partial-aggregable hash agg; no sort.
  *   - The reference's 15m↔1h attachment (J1) is an interval-containment
  *     theta join (`spark_stream_batch_processor.py:64-71`), which Spark
  *     would plan as an equi join on symbol with a range residual. Since
  *     every 15-min window start falls in exactly one 1-h bucket, it is
  *     rewritten here as a pure equi join on (symbol, hour_bucket) —
  *     shuffle-hash/broadcast friendly, skew-safe, and exact (SURVEY
  *     §2.3 J1 scale path). `intervalJoinLiteral` keeps the general
  *     theta form for irregular intervals.
  *   - The same aggregation core is reused by the Structured Streaming
  *     job in [[graft.streaming.TickStream]]; batch recompute (reference
  *     semantics) and watermarked streaming share one code path.
  */
object TickAnalytics {

  /** A1/A2 — per (symbol, tumbling window) aggregates:
    * ma = avg(price), volatility = stddev_samp(price), volume_sum.
    * Emits window.start/window.end as top-level columns (P11).
    * Generic floating-point path (also used by the streaming job).
    */
  def windowAggregates(ticks: DataFrame, duration: String): DataFrame =
    ticks
      .groupBy(col("symbol"), window(col("event_time"), duration).as("w"))
      .agg(
        r4(avg(col("price"))).as("ma"),
        r4(stddev_samp(col("price"))).as("volatility"),
        sum(col("volume")).as("volume_sum"))
      .select(
        col("symbol"),
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("ma"), col("volatility"), col("volume_sum"))

  /** A1/A2 on fixed-decimal prices (scale s): aggregates the exact
    * integer fixed-point view — Σx and Σx² as longs — then derives
    * mean and sample stddev from the exact sums:
    *   var = (n·Σx² − (Σx)²) / (n·(n−1)) / 10^2s.
    * Exact integer partial aggregation is order-independent, so results
    * are bit-stable across engines/retries, and the shuffled partial
    * state is three longs per group — the preferred path for market
    * (fixed-point) data at 100 TB. Semantics match [[windowAggregates]]
    * up to FP noise.
    */
  def windowAggregatesExact(ticks: DataFrame, duration: String, priceScale: Int = 2): DataFrame = {
    val p = math.pow(10, priceScale)
    val x = scaled(col("price"), priceScale)
    val n = count(lit(1))
    val sx = sum(x)
    val sxx = sum(x * x)
    ticks
      .groupBy(col("symbol"), window(col("event_time"), duration).as("w"))
      .agg(
        r4(sum(x) / count(x) / p).as("ma"),
        // sample stddev: NULL for n = 1, like stddev_samp
        when(n > 1,
          r4(sqrt((n * sxx - sx * sx) / (n * (n - lit(1))) / (p * p)))).as("volatility"),
        sum(col("volume")).as("volume_sum"))
      .select(
        col("symbol"),
        col("w.start").as("window_start"),
        col("w.end").as("window_end"),
        col("ma"), col("volatility"), col("volume_sum"))
  }

  /** The processed/realtime frame of spark_stream_batch_processor.py:45-75:
    * 15-min aggregates left-joined with the enclosing 1-h MA, via the
    * equi-bucket rewrite of J1.
    */
  def realtimeAnalytics(ticks: DataFrame, priceScale: Int = 2): DataFrame = {
    val m15 = windowAggregatesExact(ticks, "15 minutes", priceScale)
      .withColumnRenamed("ma", "ma_15m")
      .withColumnRenamed("volatility", "volatility_15m")
      .withColumnRenamed("volume_sum", "volume_sum_15m")
    val h1 = windowAggregatesExact(ticks, "1 hour", priceScale)
      .select(col("symbol"), col("window_start").as("hour_bucket"), col("ma").as("ma_1h"))
    m15
      .withColumn("hour_bucket", date_trunc("hour", col("window_start")))
      .join(h1, Seq("symbol", "hour_bucket"), "left")
      .drop("hour_bucket")
  }

  /** J1 in its literal interval-containment form (for irregular
    * intervals where no bucket key exists):
    * left.symbol = right.symbol AND left.ts ∈ [right.start, right.start + dur).
    */
  def intervalJoinLiteral(left: DataFrame, right: DataFrame, ts: String,
                          rightStart: String, dur: Column): DataFrame = {
    // rename the right-side key to dodge shared-lineage ambiguity
    // (both frames usually derive from the same ticks scan)
    val r = right.withColumnRenamed("symbol", "__rsymbol")
    left.join(r,
      col("symbol") === col("__rsymbol") &&
        col(ts) >= col(rightStart) &&
        col(ts) < col(rightStart) + dur,
      "left").drop("__rsymbol")
  }

  /** stg_realtime_stock_analytics.sql:24-65 — rename/derive + quality
    * filters. `now` is injected for determinism (SURVEY §7.4 risk 3);
    * the reference uses current_timestamp()/current_date().
    */
  /** Intraday microstructure summary per (symbol, day): realized
    * volatility as the exact sum of squared tick-to-tick price moves
    * (Σ(Δp_fp)², the realized-variance estimator, in pure longs) plus
    * the uptick/downtick/zero-tick direction counts and the resulting
    * tick-imbalance ratio — the standard order-flow pressure summary.
    *
    * Scale shape: the tick lag runs on ONE (symbol-day)-partitioned
    * ordered window, then everything reduces by partial-aggregable
    * hash agg to the symbol×day grain. Δp_fp at scale 2 keeps Σ(Δp)²
    * within int64 for ~10⁹ ticks/day at 100-point moves; beyond that
    * raise to DECIMAL(38,0) like sharpeRatio. */
  def microstructureDaily(ticks: DataFrame, priceScale: Int = 2): DataFrame = {
    // materialize the day BEFORE the window so the groupBy below
    // shares the window's (symbol, trade_date) hashpartitioning —
    // partitioning on the to_date EXPRESSION instead costs a second
    // exchange (asserted in PlanSpec)
    val base = ticks.select(col("symbol"),
      to_date(col("event_time")).as("trade_date"), col("event_time"),
      scaled(col("price"), priceScale).as("pfp"))
    val w = Window.partitionBy("symbol", "trade_date").orderBy("event_time")
    base
      .select(col("symbol"), col("trade_date"),
        (col("pfp") - lag(col("pfp"), 1).over(w)).as("dp"))
      .filter(col("dp").isNotNull)
      .groupBy("symbol", "trade_date")
      .agg(count(lit(1)).as("n_moves"),
        sum(col("dp") * col("dp")).as("rv_fp2"),
        sum(when(col("dp") > 0, 1L).otherwise(0L)).as("upticks"),
        sum(when(col("dp") < 0, 1L).otherwise(0L)).as("downticks"),
        sum(when(col("dp") === 0, 1L).otherwise(0L)).as("zeroticks"))
      .select(col("symbol"), col("trade_date"), col("n_moves"),
        col("upticks"), col("downticks"), col("zeroticks"),
        r4(sqrt(col("rv_fp2").cast("double")) / math.pow(10, priceScale))
          .as("realized_vol"),
        r4((col("upticks") - col("downticks")).cast("double") /
          nullifZero(col("upticks") + col("downticks"))).as("tick_imbalance"))
  }

  def stagingRealtime(analytics: DataFrame, now: Column): DataFrame =
    analytics
      .select(
        col("symbol"),
        col("window_start").as("window_start_at"),
        col("window_end").as("window_end_at"),
        ((unix_timestamp(col("window_end")) - unix_timestamp(col("window_start"))) / 60)
          .cast("long").as("window_duration_minutes"),
        col("ma_15m"), col("ma_1h"),
        col("volatility_15m"),
        col("volume_sum_15m").as("volume_15m"))
      .filter(
        col("symbol").isNotNull &&
          col("window_start_at").isNotNull && col("window_end_at").isNotNull &&
          col("window_start_at") < col("window_end_at") &&
          col("window_start_at") >= now - expr("INTERVAL 90 DAYS"))

  /** int_realtime_enriched.sql:30-105 — deltas vs previous window,
    * 4-window rolling volume/volatility, momentum / volatility-regime /
    * volume-spike signals.
    */
  def realtimeEnriched(staged: DataFrame): DataFrame = {
    val byWindow = Window.partitionBy("symbol").orderBy("window_start_at")
    val last4 = byWindow.rowsBetween(-3, 0)
    staged
      .withColumn("ma_15m_delta", r4(col("ma_15m") - lag(col("ma_15m"), 1).over(byWindow)))
      .withColumn("ma_1h_delta", r4(col("ma_1h") - lag(col("ma_1h"), 1).over(byWindow)))
      .withColumn("ma_spread", r4(col("ma_15m") - col("ma_1h")))
      // volume_15m is a long → its windowed avg sums exactly; the
      // volatility avg runs over its exact fixed-point view (Funcs.scaled)
      // so the rounded result is bit-stable (see Funcs.rd doc).
      .withColumn("avg_volume_1h", r0(avg(col("volume_15m")).over(last4)))
      .withColumn("avg_volatility_1h",
        r4(avg(scaled(col("volatility_15m"), 4)).over(last4) / 1e4))
      .withColumn("momentum_signal",
        when(col("ma_spread") > 0 && col("ma_15m_delta") > 0, "BULLISH")
          .when(col("ma_spread") < 0 && col("ma_15m_delta") < 0, "BEARISH")
          .otherwise("NEUTRAL"))
      .withColumn("volatility_regime",
        when(col("volatility_15m") >= col("avg_volatility_1h") * 2.0, "HIGH")
          .when(col("volatility_15m") >= col("avg_volatility_1h") * 1.5, "ELEVATED")
          .when(col("volatility_15m") <= col("avg_volatility_1h") * 0.5, "LOW")
          .otherwise("NORMAL"))
      .withColumn("is_volume_spike",
        when(col("avg_volume_1h") > 0 && col("volume_15m") >= col("avg_volume_1h") * 2.0,
          lit(true)).otherwise(lit(false)))
  }

  /** mart_realtime_signals.sql:28-72 — composite alert + GenAI-ready
    * summary string (F11/F12).
    */
  def martRealtimeSignals(enriched: DataFrame, withAudit: Boolean = false): DataFrame = {
    val base = enriched
      .withColumn("is_multi_signal_alert",
        when(col("momentum_signal") =!= "NEUTRAL" &&
          col("volatility_regime").isin("ELEVATED", "HIGH") &&
          col("is_volume_spike") === true, lit(true)).otherwise(lit(false)))
      .withColumn("signal_summary",
        concat(
          col("symbol").cast("string"), lit(" | "),
          col("momentum_signal"), lit(" | Vol: "),
          col("volatility_regime"),
          when(col("is_volume_spike"), lit(" | VOLUME SPIKE")).otherwise(lit("")),
          lit(" @ "), date_format(col("window_start_at"), "yyyy-MM-dd HH:mm")))
    if (withAudit) base.withColumn("dbt_updated_at", current_timestamp()) else base
  }

  /** VPIN — volume-synchronized probability of informed trading
    * (Easley, López de Prado & O'Hara, RFS 2012): trades are cut into
    * equal-VOLUME buckets (equal trade count here — the adapter's
    * unit-volume ticks make the two coincide), each trade classified
    * buy/sell by the TICK RULE (sign of the last nonzero price move,
    * carried forward through zero-ticks; the flat opening prefix
    * defaults to buy — the documented seed), and VPIN is the mean
    * absolute per-bucket order-flow imbalance over full buckets —
    * the flow-toxicity gauge next to [[microstructureDaily]]'s
    * realized-variance/imbalance day rollup.
    *
    * Exactness: prices compare as scale-`priceScale` longs, the
    * carried sign is a LAST_VALUE-IGNORE-NULLS window (bit-portable),
    * and everything after is integer counting; the only double is
    * the final Σ|imb| / (buckets·V) division. Scale shape: one
    * (symbol)-partitioned window pass at tick grain + one bucket
    * rollup + one symbol rollup — no joins, no collects; bucket ids
    * come from row_number div V, so the operator streams at any
    * tick volume. */
  def vpin(ticks: DataFrame, bucketTrades: Int = 50,
           priceScale: Int = 2): DataFrame = {
    require(bucketTrades > 0, "vpin: bucketTrades must be positive")
    val w = Window.partitionBy("symbol").orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = ticks
      .select(col("symbol"), col("ts"), col("event_id"),
        scaled(col("price"), priceScale).as("pfp"))
      .withColumn("rn", row_number().over(w))
      .withColumn("dp", col("pfp") - lag(col("pfp"), 1).over(w))
      .withColumn("sgn0", when(col("dp") > 0, 1L).when(col("dp") < 0, -1L)
        .otherwise(lit(null).cast("long")))
      .withColumn("sgn",
        coalesce(last(col("sgn0"), ignoreNulls = true).over(wRun), lit(1L)))
      .withColumn("bucket", expr(s"(rn - 1) div $bucketTrades"))
    val buckets = base.groupBy("symbol", "bucket")
      .agg(count(lit(1)).as("n"),
        sum(when(col("sgn") === 1L, 1L).otherwise(0L)).as("buys"),
        sum(when(col("sgn") === -1L, 1L).otherwise(0L)).as("sells"))
      .filter(col("n") === bucketTrades) // full buckets only
    buckets.groupBy("symbol").agg(
      count(lit(1)).as("n_buckets"),
      sum(abs(col("buys") - col("sells"))).as("sum_imb"),
      max(abs(col("buys") - col("sells"))).as("max_imb"))
      .select(col("symbol"),
        col("n_buckets").cast("long").as("n_buckets"),
        col("sum_imb").cast("long").as("sum_imbalance"),
        col("max_imb").cast("long").as("max_imbalance"),
        rd(col("sum_imb").cast("double") /
          (col("n_buckets") * lit(bucketTrades.toLong)).cast("double"), 6)
          .as("vpin"))
  }

  /** Amihud-style price-impact panel at TICK grain (Amihud, J. Fin.
    * Markets 2002, moved from the daily ratio to [[vpin]]'s
    * volume-clock): per `bucketTrades`-trade bucket, the NET price
    * move |p_last − p_first| against the bucket's total variation
    * Σ|Δp| — their ratio is the signature-plot efficiency ("how much
    * of the churn became displacement"), ~1 for trending one-way flow
    * and ~0 for pure bid-ask bounce; the tick-grain companion to
    * [[graft.operators.DailyAnalytics.kyleLambda]]'s regression
    * slope. Cross-bucket deltas are excluded (each bucket's first
    * row contributes no |Δp|); partial trailing buckets are dropped
    * (the [[vpin]] full-bucket contract).
    *
    * Exactness: scale-`priceScale` integer prices; per-bucket net
    * move and total variation are exact long sums; the three outputs
    * are fixed double trees. Scale shape: one symbol-window pass
    * (shared sort with the bucket assignment) + two partial-
    * aggregable rollups — tick rows in, S rows out, ONE exchange on
    * hash(symbol) shared by window and both rollups. */
  /** Exponential inter-arrival fit + KS goodness per symbol: MLE rate
    * λ̂ = n/Σdt over the tick gaps, then the one-sample
    * Kolmogorov–Smirnov distance between the empirical gap CDF and
    * Exp(λ̂) — the "is this flow Poisson" screen behind every
    * burstiness/clustering claim ([[graft.operators.Cohorts]]'s Fano
    * factor asks it on counts; this asks it on GAPS, where clustering
    * shows up as heavy small-gap mass). D uses both step edges
    * (max(|i/n − F|, |(i−1)/n − F|) — the standard two-sided form);
    * ranks come from row_number over (dt, event_id), a total order.
    *
    * Exactness: gaps are exact nanosecond longs; λ̂ and each row's
    * KS term are fixed double trees over exact integers; the symbol
    * rollup takes MAX (order-free — no quantization needed, unlike
    * sums). `exponential_ok` gates D against the asymptotic 5%
    * critical value 1.358/√n, the same tree in both engines.
    *
    * Scale shape: one symbol-window pass (lag + rank share the sort)
    * + one partial-aggregable rollup; tick rows in, S rows out. */
  def interarrivalFit(ticks: DataFrame, minGaps: Int = 30): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy(col("tns"), col("event_id"))
    val gaps = ticks
      .select(col("symbol"), col("ts").cast("long").as("tns"), col("event_id"))
      .withColumn("dt", col("tns") - lag(col("tns"), 1).over(w))
      .filter(col("dt").isNotNull && col("dt") >= 0L)
      .snapshot() // feeds the rate rollup AND the ranked KS pass
    val rate = gaps.groupBy("symbol")
      .agg(count(lit(1)).as("n"), sum(col("dt")).as("sdt"))
      .filter(col("n") >= minGaps)
    val ranked = gaps
      .withColumn("i", row_number().over(
        Window.partitionBy("symbol").orderBy(col("dt"), col("event_id")))
        .cast("long"))
      .join(broadcast(rate), "symbol")
    // zero total gap time (all ticks in one nanosecond) nulls the fit
    // in BOTH engines rather than NaN-ing in one (anovaDow convention)
    val fexp = lit(1.0) - exp(-(col("n").cast("double") /
      nullifZero(col("sdt").cast("double"))) * col("dt").cast("double"))
    val term = greatest(
      abs(col("i").cast("double") / col("n").cast("double") - fexp),
      abs((col("i") - lit(1L)).cast("double") / col("n").cast("double") - fexp))
    ranked.withColumn("kst", term)
      .groupBy("symbol")
      .agg(max(col("n")).as("n"), max(col("sdt")).as("sdt"),
        max(col("kst")).as("d"))
      .select(col("symbol"), col("n").cast("long").as("n_gaps"),
        rd(col("sdt").cast("double") / col("n").cast("double") / 1e9, 4)
          .as("mean_gap_sec"),
        rd(col("n").cast("double") /
          nullifZero(col("sdt").cast("double") / 1e9), 6)
          .as("lambda_per_sec"),
        rd(col("d"), 6).as("ks_d"),
        (col("d") < lit(1.358) / sqrt(col("n").cast("double"))).as("exponential_ok"))
  }

  def tickImpactPanel(ticks: DataFrame, bucketTrades: Int = 50,
                      priceScale: Int = 2): DataFrame = {
    require(bucketTrades > 1, "tickImpactPanel: bucketTrades must exceed 1")
    val w = Window.partitionBy("symbol").orderBy(col("ts"), col("event_id"))
    val base = ticks
      .select(col("symbol"), col("ts"), col("event_id"),
        scaled(col("price"), priceScale).as("pfp"))
      .withColumn("rn", row_number().over(w))
      .withColumn("dp", col("pfp") - lag(col("pfp"), 1).over(w))
      .withColumn("bucket", expr(s"(rn - 1) div $bucketTrades"))
      .withColumn("infirst", expr(s"(rn - 1) % $bucketTrades = 0"))
    val buckets = base.groupBy("symbol", "bucket")
      .agg(count(lit(1)).as("n"),
        min_by(col("pfp"), col("rn")).as("p_first"),
        max_by(col("pfp"), col("rn")).as("p_last"),
        sum(when(!col("infirst"), abs(col("dp"))).otherwise(0L)).as("tv"))
      .filter(col("n") === bucketTrades) // full buckets only
    val unit = lit(math.pow(10, priceScale))
    buckets.groupBy("symbol").agg(
      count(lit(1)).as("n_buckets"),
      sum(abs(col("p_last") - col("p_first"))).as("si"),
      sum(col("tv")).as("stv"))
      .select(col("symbol"),
        col("n_buckets").cast("long").as("n_buckets"),
        rd(col("si").cast("double") / col("n_buckets").cast("double") / unit, 4)
          .as("mean_impact"),
        rd(col("stv").cast("double") / col("n_buckets").cast("double") / unit, 4)
          .as("mean_total_variation"),
        rd(col("si").cast("double") /
          nullifZero(col("stv").cast("double")), 6).as("impact_efficiency"))
  }

  /** Parzen kernel weights k((j−1)/H) for lags j = 1..H — the flat-top
    * realized-kernel weighting (Barndorff-Nielsen, Hansen, Lunde &
    * Shephard, *Designing realised kernels*, Econometrica 2008):
    * k(x) = 1 − 6x² + 6x³ for x ≤ ½, 2(1−x)³ above. Computed once in
    * Scala so the SAME doubles reach both the Spark plan and the
    * DuckDB mirror (via Double.toString round-trip). */
  def parzenWeights(h: Int): Seq[Double] = (1 to h).map { j =>
    val x = (j - 1).toDouble / h
    if (x <= 0.5) 1.0 - 6.0 * x * x + 6.0 * x * x * x
    else 2.0 * (1.0 - x) * (1.0 - x) * (1.0 - x)
  }

  /** Realized-kernel variance per (symbol, day) (Barndorff-Nielsen,
    * Hansen, Lunde & Shephard, Econometrica 2008): the
    * noise-robust estimator of daily integrated variance — plain
    * realized variance γ₀ = Σ(Δp)² is BIASED upward by bid-ask
    * bounce (every bounce contributes spread² to the sum), and the
    * kernel nets that out with Parzen-weighted autocovariance
    * corrections: RK = γ₀ + 2·Σ_{j=1..H} k((j−1)/H)·γ_j with
    * γ_j = Σ Δp_t·Δp_{t−j}. Negative-autocorrelation microstructure
    * noise makes γ₁ < 0, so RK < γ₀ on bouncy tape — the estimator
    * [[microstructureDaily]]'s `realized_vol` upgrades to once tick
    * density makes noise the dominant term.
    *
    * Exactness: Δp at the fixed price scale are exact longs; every
    * γ_j is an exact DECIMAL(38,0) sum of long products (HUGEINT in
    * the mirror); the kernel weights are Scala-computed doubles
    * embedded as identical literals in both engines; RK is one fixed
    * double tree. RK can legitimately be negative on extreme noise —
    * reported raw, with the vol square-rooting max(RK, 0).
    *
    * Scale shape: ONE (symbol, day)-partitioned ordered window
    * produces Δp and its H lags in a single sort, then one
    * partial-aggregable rollup to the symbol×day grain — identical
    * cost to [[microstructureDaily]] plus H columns. */
  def realizedKernel(ticks: DataFrame, h: Int = 5, priceScale: Int = 2,
                     minMoves: Int = 30): DataFrame = {
    require(h >= 1, "realizedKernel: need at least one lag")
    val base = ticks.select(col("symbol"),
      to_date(col("event_time")).as("trade_date"), col("event_time"),
      scaled(col("price"), priceScale).as("pfp"))
    val w = Window.partitionBy("symbol", "trade_date").orderBy("event_time")
    val dp = base
      .select(col("symbol"), col("trade_date"), col("event_time"),
        (col("pfp") - lag(col("pfp"), 1).over(w)).as("dp"))
      .filter(col("dp").isNotNull)
    val lagged = dp.select(
      Seq(col("symbol"), col("trade_date"), col("dp")) ++
        (1 to h).map(j => lag(col("dp"), j).over(w).as(s"dp$j")): _*)
    val gammas =
      Seq(count(lit(1)).as("n_moves"), sum(dec38(col("dp")) * col("dp")).as("g0")) ++
        (1 to h).map(j => sum(dec38(col("dp")) * col(s"dp$j")).as(s"g$j"))
    val g = lagged.groupBy("symbol", "trade_date")
      .agg(gammas.head, gammas.tail: _*)
      .filter(col("n_moves") >= minMoves)
    val wts = parzenWeights(h)
    val corr = (1 to h).map(j => lit(wts(j - 1)) * col(s"g$j").cast("double"))
      .reduce(_ + _)
    val rk = col("g0").cast("double") + lit(2.0) * corr
    val unit2 = lit(math.pow(10, 2 * priceScale))
    val unit = lit(math.pow(10, priceScale))
    g.select(col("symbol"), col("trade_date"),
      col("n_moves").cast("long").as("n_moves"),
      rd(col("g0").cast("double") / unit2, 6).as("rv_var"),
      rd(rk / unit2, 6).as("rk_var"),
      rd(sqrt(greatest(rk, lit(0.0))) / unit, 4).as("rk_vol"))
  }
}
