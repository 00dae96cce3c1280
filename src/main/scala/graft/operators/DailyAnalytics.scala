package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs._
import graft.sources.Staging.Snapshottable

/** Daily (batch-lane) stock analytics: the reference's
  * `int_daily_returns` → `int_rolling_metrics` → `mart_stock_performance`
  * → `mart_daily_summary` chain re-expressed as pure
  * `DataFrame => DataFrame` stages over a canonical daily-bar frame.
  *
  * Canonical bar schema (produced by staging / adapters):
  *   symbol (any orderable type), trade_date (date),
  *   open_price, high_price, low_price, close_price (double),
  *   volume (long).
  *
  * Reference formulas (semantics mirrored exactly, quirks included):
  *   - dbt/models/intermediate/int_daily_returns.sql:29-59
  *   - dbt/models/intermediate/int_rolling_metrics.sql:33-104
  *   - dbt/models/marts/mart_stock_performance.sql:28-118
  *   - dbt/models/marts/mart_daily_summary.sql:24-77
  *
  * Scale notes (100 TB design):
  *   - Every analytic window is `PARTITION BY symbol ORDER BY trade_date`
  *     with a ROWS frame → ONE exchange (hash by symbol) + one sort feeds
  *     every window function in the stage; frames are bounded so state is
  *     O(frame), not O(partition).
  *   - The reference computes the mart as returns ⋈ rolling on
  *     (symbol, trade_date) (J2, with a tautological extra conjunct —
  *     mart_stock_performance.sql:120-124). Both sides derive from the
  *     same base, so the fused single-pass `martStockPerformance` below
  *     is semantically identical and saves a full shuffle+sort-merge
  *     join; `joinedStockPerformance` keeps the literal two-branch join
  *     shape for parity testing.
  *   - `martDailySummary` re-groups by trade_date: an unavoidable second
  *     shuffle, but it runs over the already-reduced symbol×day grain
  *     (universe × days rows, tiny next to tick/lineitem input) and is a
  *     partial-aggregable hash agg.
  */
object DailyAnalytics {

  private def bySymbol = Window.partitionBy("symbol").orderBy("trade_date")
  private def last(n: Int) = bySymbol.rowsBetween(-(n - 1), 0)

  /** The exact returns panel every returns operator starts from: the
    * rows with a non-null `daily_return_pct`, as
    * (symbol, trade_date, `name`) with `name` the return's exact
    * scale-`scale` long ([[graft.functions.Funcs.scaled]]). Aggregates
    * that do not group by day prune `trade_date`; a caller whose
    * panel feeds more than one branch snapshots it itself. */
  private[graft] def returnsPanel(returns: DataFrame, name: String, scale: Int = 4): DataFrame =
    returns.filter(col("daily_return_pct").isNotNull)
      .select(col("symbol"), col("trade_date"),
        scaled(col("daily_return_pct"), scale).as(name))

  /** The exact-moments device: `count(1)` as `n`, then one sum per
    * alias in `sums`. An alias is a one-character prefix and one or two
    * variable labels: `sy` is Σy and `sxy` is Σx·y. A label reads the
    * column `vars` maps it to, else the column of that name. First
    * moments are long sums; every product is summed as
    * dec38(a)·dec38(b), exact in DECIMAL(38,0) — the [[sharpeRatio]]
    * overflow rule (HUGEINT in the DuckDB mirror). */
  private[graft] def momentSums(n: String, sums: String*)(vars: (Char, Column)*): Seq[Column] = {
    val v = vars.toMap.withDefault(l => col(l.toString))
    count(lit(1)).as(n) +: sums.map { s =>
      (s.tail.toList match {
        case List(a) => sum(v(a))
        case List(a, b) => sum(dec38(v(a)) * dec38(v(b)))
      }).as(s)
    }
  }

  /** The finisher: n·Σab − Σa·Σb over the count `n` and the sums named
    * `sab`, `sa` and `sb`, in DECIMAL(38,0). With Σa², Σb² it is the
    * n²-scaled (co)variance; the whole product is exact, so its one
    * cast to double is the same bits in both engines. */
  private[graft] def coMoment(n: String, sab: String, sa: String, sb: String): Column =
    dec38(col(n)) * dec38(col(sab)) - dec38(col(sa)) * dec38(col(sb))

  /** OLS slope of y on x over [[momentSums]]' `s`-prefixed sums. */
  private def slope(n: String, x: String, y: String): Column =
    coMoment(n, s"s$x$y", s"s$x", s"s$y").cast("double") /
      nullifZero(coMoment(n, s"s$x$x", s"s$x", s"s$x").cast("double"))

  /** Pearson correlation of x and y over [[momentSums]]' `s`-prefixed
    * sums: one fixed scalar tree, null on zero variance. */
  private def correlation(n: String, x: String, y: String): Column =
    coMoment(n, s"s$x$y", s"s$x", s"s$y").cast("double") /
      nullifZero(
        sqrt(coMoment(n, s"s$x$x", s"s$x", s"s$x").cast("double")) *
        sqrt(coMoment(n, s"s$y$y", s"s$y", s"s$y").cast("double")))

  /** The equal-weight market index of a panel with a `y` return: one
    * ⌊Σy/n⌋ per day, as `name` (exact and portable). */
  private def marketIndex(r: DataFrame, name: String = "x"): DataFrame =
    r.groupBy("trade_date")
      .agg(sum(col("y")).as("m"), count(lit(1)).as("nsym"))
      .select(col("trade_date"),
        floor(col("m").cast("double") / col("nsym").cast("double")).cast("long").as(name))

  /** int_daily_returns.sql:29-59 — lag-based returns per symbol-day. */
  def dailyReturns(bars: DataFrame): DataFrame = {
    val prev = lag(col("close_price"), 1).over(bySymbol)
    bars
      .withColumn("prev_close_price", prev)
      .withColumn("daily_return_pct",
        r4((col("close_price") - prev) / nullifZero(prev) * 100))
      .withColumn("intraday_range", r4(col("high_price") - col("low_price")))
      .withColumn("intraday_range_pct",
        r4((col("high_price") - col("low_price")) / nullifZero(col("close_price")) * 100))
      .withColumn("overnight_gap", r4(col("open_price") - prev))
      .withColumn("symbol_row_num", row_number().over(bySymbol))
  }

  /** int_rolling_metrics.sql:33-104 — SMAs, rolling volatility, volume
    * ratio, simplified RSI-14 (plain rolling mean, not Wilder EMA — a
    * reference quirk replicated on purpose). Input: output of
    * [[dailyReturns]].
    */
  def rollingMetrics(returns: DataFrame, priceScale: Int = 2): DataFrame = {
    val ret = col("daily_return_pct")
    val p = math.pow(10, priceScale)
    // rolling averages run over the exact fixed-point views of the
    // (fixed-decimal) close and of the rd4'd returns, so partial-frame
    // averages cannot land ulp-close to rounding boundaries (Funcs.rd).
    val closeFp = scaled(col("close_price"), priceScale)
    def sma(n: Int) = r4(avg(closeFp).over(last(n)) / p)
    val vol20Raw = stddev_samp(ret).over(last(20))
    val avgVol20Raw = avg(col("volume")).over(last(20))
    val gain = avg(scaled(when(ret > 0, ret).otherwise(lit(0)), 4)).over(last(14)) / 1e4
    val loss = avg(scaled(when(ret < 0, abs(ret)).otherwise(lit(0)), 4)).over(last(14)) / 1e4
    returns
      .withColumn("sma_5d", sma(5))
      .withColumn("sma_10d", sma(10))
      .withColumn("sma_20d", sma(20))
      .withColumn("sma_50d", sma(50))
      .withColumn("volatility_20d_pct", r4(vol20Raw))
      .withColumn("annualised_volatility_pct", r4(vol20Raw * sqrt(lit(252.0))))
      .withColumn("avg_volume_20d", r0(avgVol20Raw))
      .withColumn("volume_vs_avg_20d", r4(col("volume") / nullifZero(avgVol20Raw)))
      .withColumn("rsi_14",
        r2(lit(100) - (lit(100) / (lit(1) + nullif(gain / nullifZero(loss), lit(0))))))
  }

  /** Calendar-correct rolling stats: a RANGE frame over the last
    * `days` CALENDAR days (inclusive), not the last N rows — a ROWS
    * frame silently widens its lookback across holidays and halts.
    * Spark's `rangeBetween` needs a numeric ordering key, so the
    * frame orders by `unix_date(trade_date)` (integer days since
    * epoch) — same one-exchange window shape as the row-frame mart.
    * Averages run over exact fixed-point views per the repo-wide
    * determinism policy. */
  def calendarRolling(bars: DataFrame, days: Int = 7, priceScale: Int = 2): DataFrame = {
    val p = math.pow(10, priceScale)
    val w = Window.partitionBy("symbol").orderBy(col("day_num"))
      .rangeBetween(-(days - 1), 0)
    bars
      .withColumn("day_num", unix_date(col("trade_date")))
      .withColumn(s"avg_close_${days}d",
        r4(avg(scaled(col("close_price"), priceScale)).over(w) / p))
      .withColumn(s"n_obs_${days}d", count(lit(1)).over(w))
      .withColumn(s"vol_sum_${days}d", sum(col("volume")).over(w))
      .drop("day_num")
  }

  /** The textbook Wilder RSI — exponential smoothing
    * (avg_t = (avg_{t-1}·13 + x_t)/14) — which the reference's
    * "RSI-14 approximation" deliberately simplifies to a plain rolling
    * mean (int_rolling_metrics.sql:83-104; SURVEY §7.4 quirk 5: we
    * replicate the quirk in [[rollingMetrics]] and offer the correct
    * form here). The recursion can't be expressed as a SQL window
    * frame, so this drops to secondary-sort iteration: repartition by
    * symbol, sort (symbol, trade_date) WITHIN each partition, then
    * stream the partition iterator with state that resets on key
    * change (mapPartitions). One pass, O(1) heap regardless of series
    * length — nothing is ever materialized per group, so a symbol with
    * a billion rows costs the same memory as one with ten. Adds
    * `rsi_14_wilder` keyed by (symbol, trade_date).
    */
  def wilderRsi(returns: DataFrame, period: Int = 14): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spark = returns.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    val in = returns.select(col("symbol").cast("string"),
        col("trade_date").cast("date"), col("daily_return_pct"))
      .repartition(parts, col("symbol"))
      .sortWithinPartitions(col("symbol"), col("trade_date"))
    val outSchema = StructType(Seq(
      StructField("symbol", StringType), StructField("trade_date", DateType),
      StructField("rsi_14_wilder", DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    import spark.implicits._
    in.as[(String, java.sql.Date, Option[Double])]
      .mapPartitions { rows =>
        var cur: String = null
        var avgGain, avgLoss = 0.0
        var n = 0
        rows.map { case (sym, d, retOpt) =>
          if (sym != cur) { cur = sym; avgGain = 0.0; avgLoss = 0.0; n = 0 }
          val ret = retOpt.getOrElse(0.0)
          val (g, l) = (math.max(ret, 0.0), math.max(-ret, 0.0))
          n += 1
          if (n <= period) { // seed phase: simple mean of the first `period`
            avgGain += (g - avgGain) / n
            avgLoss += (l - avgLoss) / n
          } else {           // Wilder smoothing
            avgGain = (avgGain * (period - 1) + g) / period
            avgLoss = (avgLoss * (period - 1) + l) / period
          }
          val rsi =
            if (n < period || avgLoss == 0.0) null
            else java.lang.Double.valueOf(
              math.floor((100.0 - 100.0 / (1 + avgGain / avgLoss)) * 100 + 0.5) / 100)
          Row(sym, d, rsi)
        }
      }(enc)
  }

  /** mart_stock_performance.sql:28-118 — the wide symbol×day mart, fused
    * into one window pass (see scale notes above). `withAudit` adds the
    * reference's `dbt_updated_at` current-timestamp column (off by
    * default so outputs stay deterministic for golden tests).
    */
  def martStockPerformance(bars: DataFrame, withAudit: Boolean = false): DataFrame = {
    val high52Raw = max(col("high_price")).over(last(252))
    val low52Raw = min(col("low_price")).over(last(252))
    val enriched = rollingMetrics(dailyReturns(bars))
      .withColumn("ma_signal_5_20",
        when(col("sma_5d") > col("sma_20d"), "GOLDEN_CROSS")
          .when(col("sma_5d") < col("sma_20d"), "DEATH_CROSS")
          .otherwise("NEUTRAL"))
      .withColumn("ma_signal_10_50",
        when(col("sma_10d") > col("sma_50d"), "GOLDEN_CROSS")
          .when(col("sma_10d") < col("sma_50d"), "DEATH_CROSS")
          .otherwise("NEUTRAL"))
      .withColumn("is_high_volume_day",
        when(col("volume_vs_avg_20d") >= 2.0, lit(true)).otherwise(lit(false)))
      .withColumn("rsi_signal",
        when(col("rsi_14") >= 70, "OVERBOUGHT")
          .when(col("rsi_14") <= 30, "OVERSOLD")
          .otherwise("NEUTRAL"))
      .withColumn("high_52w", high52Raw)
      .withColumn("low_52w", low52Raw)
      .withColumn("pct_of_52w_range",
        r2((col("close_price") - low52Raw) / nullifZero(high52Raw - low52Raw) * 100))
      .drop("symbol_row_num")
    if (withAudit) enriched.withColumn("dbt_updated_at", current_timestamp()) else enriched
  }

  /** The literal J2 join shape of mart_stock_performance.sql:120-124:
    * returns ⋈ rolling on (symbol, trade_date). Same result as the fused
    * mart; kept for operator-parity testing and as the pattern for
    * genuinely independent branches.
    */
  def joinedStockPerformance(bars: DataFrame): DataFrame = {
    val returns = dailyReturns(bars)
    val rolling = rollingMetrics(returns)
      .select("symbol", "trade_date", "sma_5d", "sma_10d", "sma_20d", "sma_50d",
        "volatility_20d_pct", "annualised_volatility_pct",
        "avg_volume_20d", "volume_vs_avg_20d", "rsi_14")
    returns.join(rolling, Seq("symbol", "trade_date"), "inner")
  }

  /** mart_daily_summary.sql:24-77 — cross-symbol market summary, one row
    * per trade_date. Tie-break quirk (SURVEY §7.4): the reference's
    * `max_by(symbol, daily_return_pct)` is nondeterministic on ties; we
    * define the deterministic refinement — break ties toward the larger
    * symbol for the gainer / smaller for the loser — by ordering on
    * (return, symbol), skipping null returns like `max_by` does.
    */
  /** Per-symbol lifetime stats as an ALGEBRAIC (mergeable) aggregate:
    * every column is a sum/min/max/count over exact fixed-point longs,
    * so stats of disjoint history slices MERGE into stats of the whole
    * — the exact-arithmetic twin of the HLL sketch rollup
    * ([[graft.operators.Sketches]]), and the contract that makes
    * incremental mart maintenance possible: compute stats per new
    * partition, merge with the stored frame, never rescan history.
    * `avg_close` derives at READ time from the carried sums (derived
    * ratios don't merge; their numerators and denominators do). */
  def symbolStats(bars: DataFrame): DataFrame =
    bars.groupBy("symbol").agg(
      count(lit(1)).as("n_days"),
      sum(col("volume")).as("total_volume"),
      min(col("low_price")).as("min_low"),
      max(col("high_price")).as("max_high"),
      sum(scaled(col("close_price"), 2)).as("close_sum_s2"))

  /** Merge [[symbolStats]] frames from disjoint slices — pure
    * re-aggregation of the algebraic columns, O(symbols) per slice.
    * `symbolStats(a ∪ b) == mergeSymbolStats(symbolStats(a),
    * symbolStats(b))` exactly (integer arithmetic; tested and
    * oracle-checked). */
  def mergeSymbolStats(parts: DataFrame*): DataFrame =
    parts.reduce(_ unionByName _).groupBy("symbol").agg(
      sum(col("n_days")).as("n_days"),
      sum(col("total_volume")).as("total_volume"),
      min(col("min_low")).as("min_low"),
      max(col("max_high")).as("max_high"),
      sum(col("close_sum_s2")).as("close_sum_s2"))

  /** Published view of [[symbolStats]]: derive the read-time ratio. */
  def symbolStatsView(stats: DataFrame): DataFrame =
    stats.select(col("symbol"), col("n_days"), col("total_volume"),
      col("min_low"), col("max_high"),
      r4(col("close_sum_s2") / col("n_days").cast("double") / 100.0).as("avg_close"))

  /** Winsorization: clamp daily returns into the per-symbol
    * [pLo, pHi] exact-percentile band — the robust-stats companion to
    * [[madOutliers]] that REPAIRS instead of flags (bad prints stop
    * dragging rolling stats without deleting the day). Percentiles
    * interpolate over the exact scale-4 longs (the portable form
    * q_quantiles proves against DuckDB), and the clamp is a pure
    * greatest/least tree. One grouped percentile pass + a broadcast
    * join of the universe-sized bounds frame. */
  def winsorizeReturns(returns: DataFrame, pLo: Double = 0.01,
                       pHi: Double = 0.99): DataFrame = {
    val r = returnsPanel(returns, "xs")
    val bounds = r.groupBy("symbol").agg(
      percentile(col("xs"), lit(pLo)).as("lo_s"),
      percentile(col("xs"), lit(pHi)).as("hi_s"))
    r.join(broadcast(bounds), "symbol")
      .select(col("symbol"), col("trade_date"),
        r4(col("xs") / 10000.0).as("return_pct"),
        r4(greatest(least(col("xs").cast("double"), col("hi_s")), col("lo_s")) / 10000.0)
          .as("return_winsorized"),
        (col("xs") < col("lo_s") || col("xs") > col("hi_s")).as("clamped"))
  }

  /** Calendar-gap report: consecutive bars further apart than
    * `maxGapDays` — the missing-data audit a daily feed needs before
    * ROWS-frame windows silently treat a 2-week hole as adjacent days.
    * One lag over the shared symbol exchange. */
  def tradingGaps(bars: DataFrame, maxGapDays: Int = 1): DataFrame = {
    val prev = lag(col("trade_date"), 1).over(bySymbol)
    bars.select(col("symbol"), col("trade_date"), prev.as("prev_date"))
      .withColumn("gap_days", datediff(col("trade_date"), col("prev_date")))
      .filter(col("gap_days") > maxGapDays)
      .select("symbol", "prev_date", "trade_date", "gap_days")
  }

  /** Robust per-symbol outlier audit over daily returns: flag days
    * where |return − median| > 4.4478 · MAD (the 3σ-equivalent
    * median-absolute-deviation rule, 3 × 1.4826 written as one decimal
    * literal so both engines parse the identical double). The
    * data-quality screen a mart feed wants BEFORE rolling stats: unlike
    * mean/stddev, median/MAD don't let one bad print drag the threshold.
    *
    * Determinism: returns are r4 fixed-decimal, so they scale to exact
    * longs ([[graft.functions.Funcs.scaled]]); medians interpolate
    * midpoints of integers (dyadic rationals — exact in IEEE doubles in
    * any engine), and the flag comparison is a single multiply —
    * bit-portable, no percentile-implementation drift.
    *
    * Scale shape: two partial-aggregable grouped medians over the
    * symbol×day grain plus broadcast joins of the per-symbol frames
    * (universe-sized — tiny); the day rows never shuffle twice.
    * Output: one row per symbol (n_days, n_outliers, med/MAD in pct).
    */
  def madOutliers(returns: DataFrame): DataFrame = {
    // the (symbol, scaled-return) frame feeds three branches (median,
    // deviations, final agg); snapshot it once at the already-reduced
    // symbol×day grain so the upstream bar chain isn't recomputed per
    // branch (a full re-scan each at 100 TB)
    val r = returnsPanel(returns, "xs").drop("trade_date").snapshot()
    val med = r.groupBy("symbol").agg(median(col("xs")).as("med_s"))
    val dev = r.join(broadcast(med), "symbol")
      .withColumn("dev_s", abs(col("xs") - col("med_s")))
    val mad = dev.groupBy("symbol").agg(median(col("dev_s")).as("mad_s"))
    dev.join(broadcast(mad), "symbol")
      .groupBy("symbol")
      .agg(
        count(lit(1)).as("n_days"),
        sum(when(col("dev_s") > lit(4.4478) * col("mad_s"), 1L).otherwise(0L))
          .as("n_outliers"),
        r4(min(col("med_s")) / 10000.0).as("med_return_pct"),
        r4(min(col("mad_s")) / 10000.0).as("mad_pct"))
  }

  /** Pairwise Pearson correlation of daily returns across the symbol
    * universe — the classic risk/pairs-trading matrix. Computed from
    * EXACT integer sums over the scale-4 fixed-point returns
    * (Σx, Σy, Σxy, Σx², Σy² as longs, one shuffle, partial-aggregable),
    * then one fixed scalar expression per pair ([[correlation]] over
    * [[coMoment]]):
    *   corr = (n·Σxy − Σx·Σy) / (√(n·Σx²−Σx²̂) · √(n·Σy²−Σy²̂))
    * so the result is bit-portable (no FP accumulation order anywhere).
    * Overflow headroom: |xs| ≤ 10⁶ (100% in scale-4), so n·Σxy at ten
    * years of days stays < 2⁶³ by ~4 orders of magnitude.
    *
    * Scale shape: the self-join is keyed on trade_date over the
    * already-reduced symbol×day grain — per-key fan-out is the symbol
    * universe S, so cost is O(D·S²) pairs, bounded by the universe
    * (NOT corpus-quadratic; S is a catalog dimension). The grouped
    * sums reduce map-side before the (s1, s2) exchange.
    */
  def pairCorrelation(returns: DataFrame, minDays: Int = 30): DataFrame =
    pairCorrelationFromReduced(returnsPanel(returns, "xs").snapshot(), minDays)

  /** Symbol-block count for the 2-D blocked pair join, ADAPTIVE in the
    * measured symbol cardinality S: per-task aggregation state is
    * bounded by (S/B)² per block-pair instead of S² per date, which is
    * what keeps the hash aggregate map-side at ANY symbol cardinality.
    * Measured failure mode without blocking (K=10 entity composite,
    * S=1 000): the date-partitioned agg's map starves, Spark falls
    * back to sort-based aggregation, and the RAW S²·D fan-out
    * (~5.7 B rows, ~10² GB) spills to disk.
    *
    * Blocking is replication: each side shuffles B copies, so paying
    * B=4 on a 100-symbol panel buys key-space bounding the panel never
    * needed (S²·G/parts ≈ 2 500 keys/task fits any hash agg) at ~0.5 s
    * per lane at sf0.1. B therefore derives from S — 1 while the
    * unblocked per-task key space is safely map-side (S ≤ 512 ⇒
    * ≤ 65 K keys/task at the 32/8 dials), then ⌈S/256⌉ capped at 8
    * (S=1 000 ⇒ 4, the composite-probe-validated setting). Blocking is
    * a PHYSICAL partitioning strategy — every (s1,s2) pair still
    * matches exactly once at any B, so results are bit-identical and
    * the oracle is untouched; the one extra driver-side scalar is a
    * distinct-count on the already-checkpointed returns panel. */
  private[graft] def pairBlocks(symbols: Long): Int =
    if (symbols <= 512) 1 else math.min(8, math.ceil(symbols / 256.0).toInt)

  /** Date-group count: adds partition-dial parallelism WITHOUT extra
    * replication (B²·G hash groups feed the cores) while keeping the
    * per-task key bound at (S/B)²·⌈B²G/parts⌉ — dg is a FUNCTION of
    * the date, so making it a join key changes nothing semantically
    * but lets the partitioning legally drop the raw date. */
  private val PairDateGroups = 8

  /** The 2-D blocked co-partitioned pair self-join — the device both
    * all-pairs lanes ([[pairCorrelation]]/[[pairsSpread]] and
    * [[headToHead]]) are built on. Input is the [[returnsPanel]]
    * (symbol, trade_date, xs); output is one row per (s1 < s2, day)
    * with both sides' values as (x, y), each pair matched EXACTLY
    * once.
    *
    * 2-D BLOCKED self-join (block-partitioned matmul shape): each
    * side is replicated B ways so every symbol-block PAIR (bi, bj) is
    * one co-located join group — the pair (s1, s2) matches exactly
    * once, at key (date, block(s1), block(s2)). Replication costs
    * B·|panel| shuffled rows (trivial next to the S²·D join output);
    * in exchange the partial agg behind the join holds only its
    * partition's block-pairs' (S/B)² keys, so it can NEVER fall back
    * to sort-based aggregation and spill the fan-out — the property
    * that survives growing S.
    *
    * THE PARTITIONING KEY IS THE POINT: both sides repartition by
    * (bi, bj, dg) — NOT by date — so one partition holds a
    * block-pair's whole day range and the partial agg sees each pair
    * ~once. Hashing the raw date in (an earlier form of this
    * operator, and what the join would do left to itself) scatters
    * every block-pair across ALL partitions, the per-task key count
    * collapses back to ~all pairs, and the fallback returns. dg
    * joins as a derived key so the subset partitioning is legal; the
    * explicit count defeats AQE's byte-based coalescing (tiny-BYTES
    * frame, CPU-bound fan-out; PlanSpec-pinned behavior).
    * The block-dial distinct-count is an EAGER action at
    * DataFrame-construction time — safe only because the input is a
    * materialized snapshot (every caller passes the snapshot'd
    * [[returnsPanel]]). Guard the contract: an un-checkpointed frame
    * here would silently pay a full upstream recompute just to size
    * the block dial, and would make plan-only inspection trigger a
    * job. */
  private def blockedPairJoin(r: DataFrame): DataFrame = {
    require(r.queryExecution.logical.collectFirst {
      case _: org.apache.spark.sql.execution.LogicalRDD => ()
    }.isDefined,
      "blockedPairJoin: input must be a materialized snapshot " +
        "(Staging.snapshot) — the block dial runs an eager distinct-count on it")
    // ONE probe job for both cardinality dials (the input is a
    // materialized snapshot, so this scans checkpoint blocks only)
    val card = r.agg(countDistinct(col("symbol")),
      countDistinct(col("trade_date"))).head()
    val (symbols, days) = (card.getLong(0), card.getLong(1))
    val B = pairBlocks(symbols)
    val parts = r.sparkSession.sessionState.conf.numShufflePartitions
    // Group and partition dials, derived from the session partition
    // dial and the measured panel (scale-adaptive, nothing pinned):
    //  - G grows until B²·G ≈ 4·parts, so the group space always
    //    oversubscribes the cores (guide §2.5: a synthetic key with
    //    too few distinct values leaves cores idle — at the fixed
    //    G=8, B=4, parts=32 dials the 128 groups hashed into 32
    //    partitions loaded the max task ~2× the mean; measured r17:
    //    fan-out wall 2.87 s → 2.00 s at one group per partition);
    //  - but G is CAPPED at ⌈days/8⌉: each (s1,s2) key emits one
    //    partial-agg row per date-group it meets, so the partial
    //    reduction factor is days/G — uncapped (a cluster-scale
    //    `parts` would push G past the date cardinality) the "partial"
    //    exchange would carry the raw S²·D fan-out. On LONG panels
    //    (days ≥ 64) the cap keeps ≥8× map-side reduction; on short
    //    panels the PairDateGroups=8 floor wins instead and the
    //    reduction factor is days/8 (< 8× when days < 64 — the floor
    //    trades reduction for group-space parallelism there). Guide
    //    §2.3.
    //  - the pair exchange gets B²·G partitions (≥ parts) — one group
    //    per partition in expectation, so tasks are group-sized and
    //    wave scheduling absorbs hash collisions; the per-task partial
    //    agg keeps the (S/B)²-keys-per-block-pair bound that prevents
    //    the sort-agg fallback at ANY symbol cardinality.
    val G = math.max(PairDateGroups,
      math.min(math.ceil(4.0 * parts / (B.toDouble * B)).toInt,
        math.max(PairDateGroups, math.ceil(days / 8.0).toInt)))
    val pairParts = math.max(parts, B * B * G)
    val bvals = array((0 until B).map(lit): _*)
    val left = r.select(col("symbol").as("s1"), col("trade_date"), col("xs").as("x"))
      .withColumn("bi", pmod(hash(col("s1")), lit(B)))
      .withColumn("bj", explode(bvals))
      .withColumn("dg", pmod(hash(col("trade_date")), lit(G)))
      .repartition(pairParts, col("bi"), col("bj"), col("dg"))
    val right = r.select(col("symbol").as("s2"), col("trade_date"), col("xs").as("y"))
      .withColumn("bj", pmod(hash(col("s2")), lit(B)))
      .withColumn("bi", explode(bvals))
      .withColumn("dg", pmod(hash(col("trade_date")), lit(G)))
      .repartition(pairParts, col("bi"), col("bj"), col("dg"))
    // SHUFFLE_HASH, not broadcast and not sort-merge: the replicated
    // panel is small in estimated BYTES, so Spark would broadcast it —
    // a B·|panel|-entry hash map rebuilt in every task (and an OOM
    // once the panel grows). Co-partitioned on (bi, bj, dg), each
    // task's build side is |panel|·B/parts rows — bounded by the
    // partition dial, while sort-merge would pay an O(n log n) sort
    // for a join whose groups need no order.
    left.join(right.hint("shuffle_hash"), Seq("trade_date", "dg", "bi", "bj"))
      .filter(col("s1") < col("s2"))
  }

  private def pairCorrelationFromReduced(r: DataFrame, minDays: Int): DataFrame = {
    val j = blockedPairJoin(r)
    // RANGE CONTRACT (deliberately LONG, not the [[sharpeRatio]]
    // DECIMAL(38,0) rule): this is the S²·D hot path — the fan-out
    // aggregation runs once per (pair, day) — and decimal sums here
    // measure 2-2.5× slower end to end (BigDecimal leaves codegen's
    // long fast path). Long Σy² is exact while n·y² < 2^63, i.e.
    // |daily_return_pct|·√n_days < 3·10⁵ percent — a 40-year panel
    // (n=10⁴) allows ±3000% daily moves, far past any real market
    // data. Inputs beyond the contract belong to [[sharpeRatio]]-class
    // per-symbol stats, which do pay the decimal cost (D·S grain).
    val g = j.groupBy("s1", "s2").agg(
      count(lit(1)).as("n_days"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
      .filter(col("n_days") >= minDays)
    // FINAL per-pair scalars in DECIMAL(38,0) (the [[marketBeta]]
    // rule): sx² reaches ~n²·y_max² ≈ 3.6·10²¹ on this data's extreme
    // synthetic "returns" — past Long — and the composite scale probe
    // hit it (ARITHMETIC_OVERFLOW at 10× the pair count). Only the
    // PAIR-grain rows pay the decimal cost; the S²·D hot-path sums
    // above stay long.
    g.select(col("s1"), col("s2"), col("n_days"),
      r4(correlation("n_days", "x", "y")).as("return_corr"))
  }

  /** Head-to-head outperformance grid for pairwise-preference models
    * ([[graft.operators.Cohorts.bradleyTerry]]): per ordered-canonical
    * pair (i < j), the count of non-tied days and the days i's exact
    * scale-4 return was strictly higher. Built on [[blockedPairJoin]]
    * — the same co-partitioned device that holds the S²·D
    * correlation/spread lanes linear in the pair space — because the
    * grid's construction IS an all-pairs day-grain self-join: the
    * naive `join(Seq("trade_date"))` form measured 178× on the 150
    * composite entity bound (the r16 composite-scaling miss) from the
    * date-partitioned agg starving exactly as the [[pairBlocks]] doc
    * describes. Pair semantics are identical (each pair matches once),
    * so results are bit-equal to the naive form and the oracle is
    * untouched. */
  def headToHead(returns: DataFrame): DataFrame =
    blockedPairJoin(returnsPanel(returns, "xs").snapshot())
      .filter(col("x") =!= col("y"))
      .select(col("s1").as("i"), col("s2").as("j"),
        col("x").as("yi"), col("y").as("yj"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum(when(col("yi") > col("yj"), 1L).otherwise(0L)).as("wi"))

  /** Per-symbol market beta: the OLS slope of each symbol's daily
    * returns against an equal-weighted market index built from the
    * same panel — the classic systematic-risk measure next to
    * [[pairCorrelation]]'s correlation matrix.
    *
    * Exactness: the market return for a day is ⌊Σy/n⌋ (one floor
    * division over exact scale-4 longs — deterministic and portable);
    * everything after is integer sums (Σx, Σy longs; Σxy, Σx² in
    * DECIMAL(38,0) per the [[sharpeRatio]] overflow rule, HUGEINT in
    * the DuckDB mirror) and the textbook slope
    * (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) as ONE final division. Scale shape: the index is a partial-aggregable grouped
    * sum to days-dimension size (broadcast back), the per-symbol sums
    * are one more partial-agg shuffle — two shuffles total, no windows.
    */
  def marketBeta(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val r = returnsPanel(returns, "y").snapshot() // feeds the index build AND the join probe
    val m = momentSums("n_days", "sx", "sy", "sxy", "sxx")()
    r.join(broadcast(marketIndex(r)), "trade_date")
      .groupBy("symbol").agg(m.head, m.tail: _*)
      .filter(col("n_days") >= minDays)
      .select(col("symbol"), col("n_days"), r4(slope("n_days", "x", "y")).as("beta"))
  }

  /** Two-factor OLS per symbol: y ~ α + β₁·mkt + β₂·mkt₋₁ — the
    * contemporaneous market beta and a lagged-market (lead-lag /
    * non-synchronous trading) loading fit JOINTLY by solving the 3×3
    * normal equations in closed form (Cramer), the multi-factor step
    * past [[marketBeta]]'s single regressor (the same decomposition a
    * Fama-French-style factor model runs, with the factor set this
    * data can define).
    *
    * Exactness discipline: the nine moment sums (n, Σx₁, Σx₂, Σy,
    * Σx₁², Σx₁x₂, Σx₂², Σx₁y, Σx₂y) accumulate in DECIMAL(38,0) per
    * the [[sharpeRatio]] overflow rule (HUGEINT in the mirror) —
    * order-free, exact. The four 3×3 determinants run in DOUBLE as one
    * FIXED expression tree each (their cross-products pass 10³⁸ —
    * decimal would overflow where doubles just lose ulps identically
    * in both engines), and each coefficient is one rd() division.
    *
    * Scale shape: the market index is a days-dimension rollup
    * (broadcast back); the lag is one window over that DIMENSION frame
    * (calendar-bounded, not data-scale); per-symbol moments are one
    * partial-aggregable shuffle — two exchanges total, no self-join. */
  def twoFactorRegression(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val r = returnsPanel(returns, "y").snapshot() // feeds the index build AND the join probe
    // lag over the DAYS DIMENSION (≤ calendar length — not data-scale,
    // so the unpartitioned window is a bounded dim frame by design)
    val lagged = marketIndex(r, "x1")
      .withColumn("x2", lag(col("x1"), 1).over(Window.orderBy("trade_date")))
      .filter(col("x2").isNotNull)
    val m = momentSums("n", "s1", "s2", "sy", "s11", "s12", "s22", "s1y", "s2y")(
      '1' -> col("x1"), '2' -> col("x2"))
    val g = r.join(broadcast(lagged), "trade_date")
      .groupBy("symbol").agg(m.head, m.tail: _*)
      .filter(col("n") >= minDays)
    // Cramer over the 3×3 normal equations, every determinant one
    // fixed double tree (identical text in the oracle)
    def d(name: String) = col(name).cast("double")
    val (nD, s1, s2, sy) = (d("n"), d("s1"), d("s2"), d("sy"))
    val (s11, s12, s22, s1y, s2y) = (d("s11"), d("s12"), d("s22"), d("s1y"), d("s2y"))
    val det = nD * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    val detA = sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val detB1 = nD * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)
    val detB2 = nD * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)
    g.select(col("symbol"), col("n").as("n_days"),
      rd(detB1 / nullifZero(det), 4).as("beta_mkt"),
      rd(detB2 / nullifZero(det), 4).as("beta_lag"),
      rd(detA / nullifZero(det) / 1e4, 6).as("alpha_pct"))
  }

  /** Per-symbol maximum drawdown: the worst peak-to-trough decline of
    * the close price (running-peak window, then a min) — the standard
    * downside-risk summary the reference's performance mart implies
    * but never ships. One exchange: the running peak shares the
    * symbol-ordered window the returns lane already established. */
  def maxDrawdown(returns: DataFrame): DataFrame = {
    val peak = max(col("close_price"))
      .over(bySymbol.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    returns
      .withColumn("dd", r4((col("close_price") - peak) / nullifZero(peak) * 100))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
        min(col("dd")).as("max_drawdown_pct"),
        max(col("close_price")).as("peak_close"))
  }

  /** Drawdown DURATION per symbol — the time dimension
    * [[maxDrawdown]]'s depth number misses ("how LONG was the
    * portfolio underwater", the drawdown statistic allocators
    * actually ask for): the longest consecutive run of days strictly
    * below the running peak close, with its start/end dates, plus the
    * total underwater-day count. Classic gaps-and-islands — the run
    * id is the cumulative count of at-peak days, all exact integer
    * arithmetic on cent-scaled closes (no float compares).
    *
    * Scale shape: two window passes inside the symbol partition
    * (running peak + run id), one partial-aggregable rollup to
    * (symbol, run), a rank for the longest, and a LEFT join back to
    * the symbol dimension so never-underwater symbols report zeros. */
  def drawdownDuration(returns: DataFrame, priceScale: Int = 2): DataFrame = {
    val base = returns
      .select(col("symbol"), col("trade_date"),
        scaled(col("close_price"), priceScale).as("cp"))
      .withColumn("under",
        (col("cp") < max(col("cp")).over(
          bySymbol.rowsBetween(Window.unboundedPreceding, 0))).cast("long"))
      .withColumn("run", sum(lit(1L) - col("under")).over(bySymbol))
      .snapshot() // feeds the runs rollup AND the symbol totals
    val longest = base.filter(col("under") === 1L)
      .groupBy("symbol", "run")
      .agg(count(lit(1)).as("len"),
        min(col("trade_date")).as("dd_start"),
        max(col("trade_date")).as("dd_end"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("symbol")
          .orderBy(col("len").desc, col("dd_start").asc)))
      .filter(col("rk") === 1)
      .select(col("symbol"), col("len"), col("dd_start"), col("dd_end"))
    base.groupBy("symbol")
      .agg(count(lit(1)).as("n_days"), sum(col("under")).as("n_underwater"))
      .join(longest, Seq("symbol"), "left")
      .select(col("symbol"), col("n_days"), col("n_underwater"),
        coalesce(col("len"), lit(0L)).as("longest_dd_days"),
        col("dd_start"), col("dd_end"))
  }

  /** Calendar resampling of daily bars to a coarser OHLCV grain (the
    * classic weekly/monthly candlestick roll-up the reference's
    * daily-only marts stop short of): per (symbol, period) the open is
    * the FIRST open by date (`min_by`), the close the LAST close
    * (`max_by`), high/low/volume the plain max/min/sum, plus a
    * close-weighted VWAP in exact fixed-point (Σ close_fp·volume as a
    * long, ONE final division).
    *
    * Scale shape: one partial-aggregable hash agg — min_by/max_by
    * combine map-side like any other agg, so the shuffle carries one
    * row per (symbol, period), not per day. `unit` is any
    * `date_trunc` unit ("week", "month", "quarter", "year"); weeks
    * start Monday (ISO) on both Spark and DuckDB.
    * RANGE CONTRACT: Σ close_fp·volume fits a long while
    * period volume · price·10² < 9.2e18 — beyond that switch the
    * product to [[graft.functions.Funcs.money]] DECIMAL(38,2). */
  def resampleOhlc(bars: DataFrame, unit: String = "week",
                   priceScale: Int = 2): DataFrame = {
    val p = math.pow(10, priceScale)
    bars
      .groupBy(col("symbol"),
        date_trunc(unit, col("trade_date")).cast("date").as("period_start"))
      .agg(
        min_by(col("open_price"), col("trade_date")).as("open_price"),
        max(col("high_price")).as("high_price"),
        min(col("low_price")).as("low_price"),
        max_by(col("close_price"), col("trade_date")).as("close_price"),
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_days"),
        sum(scaled(col("close_price"), priceScale) * col("volume")).as("spv"))
      .withColumn("vwap",
        r4(col("spv").cast("double") / nullifZero(col("volume")) / p))
      .drop("spv")
  }

  /** Per-symbol annualized Sharpe ratio (risk-free rate 0): mean daily
    * return over its sample standard deviation, scaled by √252 — the
    * headline risk-adjusted-return figure next to [[marketBeta]].
    *
    * Exactness: returns enter as scale-4 longs; n, Σy, Σy² are exact
    * sums (one partial-agg shuffle), and the whole ratio —
    * (Σy/n) / √((nΣy² − (Σy)²)/(n(n−1))) · √252 — is a fixed scalar
    * expression tree over those exact values, so Spark and DuckDB agree
    * bit-for-bit. nΣy² − (Σy)² ≥ 0 holds exactly (Cauchy–Schwarz over
    * integers), so the √ argument is never a rounding-negative.
    *
    * The overflow rule the other operators cite: n and Σy stay long,
    * Σy² is a [[momentSums]] product (dec38(y)·dec38(y)) and the
    * variance numerator nΣy² − (Σy)² is [[coMoment]], both in
    * DECIMAL(38,0). As longs they would overflow: at |y| = 10⁶ (a 100%
    * day at scale 4) over 2,500 days, n·Σy² = 6.25·10¹⁸ is within 1.5×
    * of 2⁶³, and a 10⁴% synthetic return (y ≈ 10⁸, y² ≈ 10¹⁶) clears
    * it. The DuckDB mirror uses HUGEINT — both sides then cast the
    * SAME exact integer to double, so bits still match. */
  def sharpeRatio(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val m = momentSums("n_days", "sy", "syy")()
    returnsPanel(returns, "y")
      .groupBy("symbol").agg(m.head, m.tail: _*)
      .filter(col("n_days") >= minDays)
      .select(col("symbol"), col("n_days"),
        r4(col("sy").cast("double") / col("n_days") / 10000.0)
          .as("mean_return_pct"),
        r4((col("sy").cast("double") / col("n_days")) /
          nullifZero(sqrt(coMoment("n_days", "syy", "sy", "sy").cast("double") /
            (col("n_days") * (col("n_days") - lit(1L))))) * sqrt(lit(252.0)))
          .as("sharpe_annual"))
  }

  /** Per-symbol annualized Sortino ratio (target 0): mean daily return
    * over the downside semideviation √(Σ min(y,0)²/n) · √252 — the
    * [[sharpeRatio]] companion that penalizes only downside variance
    * (the convention: population semideviation below a zero target).
    * Same exactness discipline as Sharpe: scale-4 longs, the squared
    * downside sum in DECIMAL(38,0) (HUGEINT in the DuckDB mirror),
    * and ONE fixed scalar tree over the exact integers. */
  def sortinoRatio(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val dn = when(col("y") < 0, col("y")).otherwise(lit(0L))
    val m = momentSums("n_days", "sy", "sdd")('d' -> dn)
    returnsPanel(returns, "y")
      .groupBy("symbol").agg(m.head, m.tail: _*)
      .filter(col("n_days") >= minDays)
      .select(col("symbol"), col("n_days"),
        r4(col("sy").cast("double") / col("n_days") / 10000.0)
          .as("mean_return_pct"),
        r4((col("sy").cast("double") / col("n_days")) /
          nullifZero(sqrt(col("sdd").cast("double") / col("n_days"))) *
          sqrt(lit(252.0)))
          .as("sortino_annual"))
  }

  /** Daily information coefficient: the cross-sectional Pearson
    * correlation between today's momentum signal and the NEXT day's
    * return — the factor-predictivity readout next to
    * [[decileBacktest]] (IC > 0 day after day is what makes a decile
    * spread tradable). The signal is [[momentumDeciles]]' r4'd
    * momentum; signal and forward return enter as scale-4 longs,
    * per-day sums follow the [[crossSectionalZ]] DECIMAL(38,0)
    * dimension-grain discipline, and the correlation is ONE fixed
    * scalar tree. Shape: one symbol-window pass computes (momentum,
    * lead) over a shared exchange, then one day-grain partial-agg
    * shuffle. */
  def factorIC(bars: DataFrame, lagDays: Int = 21,
               minSymbols: Int = 5): DataFrame = {
    val lagC = lag(col("close_price"), lagDays).over(bySymbol)
    val base = dailyReturns(bars)
      .select(col("symbol"), col("trade_date"), col("close_price"),
        col("daily_return_pct"))
      .withColumn("mom", r4((col("close_price") - lagC) / nullifZero(lagC) * 100))
      .withColumn("fwd", lead(col("daily_return_pct"), 1).over(bySymbol))
      .filter(col("mom").isNotNull && col("fwd").isNotNull)
      .select(col("trade_date"), scaled(col("mom"), 4).as("x"),
        scaled(col("fwd"), 4).as("y"))
    val m = momentSums("n_symbols", "sx", "sy", "sxy", "sxx", "syy")()
    base.groupBy("trade_date").agg(m.head, m.tail: _*)
      .filter(col("n_symbols") >= minSymbols)
      .select(col("trade_date"), col("n_symbols"),
        r4(correlation("n_symbols", "x", "y")).as("ic"))
      .orderBy("trade_date")
  }

  /** On-balance volume: the running sum of volume signed by the day's
    * return direction (flat / first days contribute 0) — the classic
    * volume-flow confirmation indicator. Pure long arithmetic over the
    * standard symbol-ordered window: one exchange, exact everywhere. */
  def obv(returns: DataFrame): DataFrame = {
    val signed = when(col("daily_return_pct") > 0, col("volume"))
      .when(col("daily_return_pct") < 0, -col("volume"))
      .otherwise(lit(0L))
    returns.select(col("symbol"), col("trade_date"), col("volume"),
      sum(signed)
        .over(bySymbol.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("obv"))
  }

  /** Stochastic oscillator: %K = position of the close inside the
    * rolling k-period high/low channel, %D = its d-period SMA (the
    * signal line). %K is rd'd to 2 decimals, re-scaled to an exact
    * long, and THEN averaged (the [[rollingMetrics]] SMA discipline),
    * so %D is bit-portable too. Same single symbol-ordered exchange as
    * every other daily window metric. */
  def stochastic(bars: DataFrame, kPeriod: Int = 14, dPeriod: Int = 3): DataFrame = {
    val lo = min(col("low_price")).over(last(kPeriod))
    val hi = max(col("high_price")).over(last(kPeriod))
    val k = r2((col("close_price") - lo) / nullifZero(hi - lo) * 100)
    bars.select(col("symbol"), col("trade_date"), col("close_price"),
        k.as("pct_k"))
      .withColumn("pct_d", r2(avg(scaled(col("pct_k"), 2)).over(last(dPeriod)) / 100.0))
  }

  /** Per-symbol EMA of the close — the genuinely RECURSIVE smoothing
    * (e_t = (2·p_t + (n−1)·e_{t−1})/(n+1), seeded with the first
    * close) that a SQL window frame cannot express. Kept exact AND
    * oracle-able by running the recursion in INTEGER arithmetic over
    * scale-2 prices: `aggregate` folds the date-sorted price array
    * with `div` (DuckDB mirrors with `list_reduce` and `//`), so every
    * step is an exact integer and engines agree bit-for-bit. Floor
    * division biases each step < 1 price cent — documented, not drift.
    *
    * Scale shape: one partial-aggregable collect per symbol; the state
    * is the symbol's own price series (the days DIMENSION, ~10³ longs
    * — bounded by calendar, not by corpus growth), folded driver-free
    * inside the executor. For unbounded-length series use the
    * [[wilderRsi]]-style streaming secondary sort instead. */
  def emaClose(bars: DataFrame, n: Int = 12, priceScale: Int = 2): DataFrame = {
    require(n >= 1, "emaClose: n must be >= 1")
    val p = math.pow(10, priceScale)
    val fold = s"(acc, x) -> (2 * x + ${n - 1} * acc) div ${n + 1}"
    bars
      .select(col("symbol"), struct(col("trade_date"),
        scaled(col("close_price"), priceScale).as("p")).as("tp"))
      .groupBy("symbol")
      .agg(sort_array(collect_list(col("tp"))).as("tps"))
      .select(col("symbol"),
        size(col("tps")).cast("long").as("n_days"),
        expr(s"""aggregate(slice(transform(tps, t -> t.p), 2,
                   greatest(size(tps) - 1, 0)),
                 element_at(transform(tps, t -> t.p), 1), $fold)""").as("e"))
      .select(col("symbol"), col("n_days"),
        r4(col("e").cast("double") / p).as(s"ema_$n"))
  }

  /** MACD(12,26,9) — fast EMA minus slow EMA with its EMA-9 signal
    * line and histogram — as ONE composite integer recursion: the fold
    * state is the array [e12, e26, sig] (all scale-`priceScale` longs)
    * advanced per day by the same `div`-exact EMA step as [[emaClose]];
    * the signal folds over each day's fresh macd, so all three lines
    * come out of a single pass over the sorted price array.
    *
    * The state is an ARRAY, not a struct, deliberately: DuckDB 1.0's
    * `list_reduce` mis-evaluates repeated subexpressions across
    * `struct_pack` fields (verified: a field reusing another field's
    * expression drifts from the hand-run recursion), while list-typed
    * accumulators fold correctly — and the oracle must mirror this
    * fold step for step. Same days-dimension scale contract as
    * [[emaClose]]. */
  def macd(bars: DataFrame, fast: Int = 12, slow: Int = 26, signal: Int = 9,
           priceScale: Int = 2): DataFrame = {
    val p = math.pow(10, priceScale)
    val step =
      s"""(acc, x) -> array(
         |  (2 * element_at(x, 1) + ${fast - 1} * element_at(acc, 1)) div ${fast + 1},
         |  (2 * element_at(x, 1) + ${slow - 1} * element_at(acc, 2)) div ${slow + 1},
         |  (2 * ((2 * element_at(x, 1) + ${fast - 1} * element_at(acc, 1)) div ${fast + 1}
         |        - (2 * element_at(x, 1) + ${slow - 1} * element_at(acc, 2)) div ${slow + 1})
         |   + ${signal - 1} * element_at(acc, 3)) div ${signal + 1})""".stripMargin
    bars
      .select(col("symbol"), struct(col("trade_date"),
        scaled(col("close_price"), priceScale).as("p")).as("tp"))
      .groupBy("symbol")
      .agg(sort_array(collect_list(col("tp"))).as("tps"))
      .select(col("symbol"),
        size(col("tps")).cast("long").as("n_days"),
        expr(s"""aggregate(
                   slice(transform(tps, t -> array(t.p, t.p, 0L)), 2,
                         greatest(size(tps) - 1, 0)),
                   element_at(transform(tps, t -> array(t.p, t.p, 0L)), 1),
                   $step)""").as("st"))
      .select(col("symbol"), col("n_days"),
        r4((element_at(col("st"), 1) - element_at(col("st"), 2)).cast("double") / p)
          .as("macd_12_26"),
        r4(element_at(col("st"), 3).cast("double") / p).as("signal_9"),
        r4((element_at(col("st"), 1) - element_at(col("st"), 2) -
            element_at(col("st"), 3)).cast("double") / p).as("histogram"))
  }

  /** Volatility-band indicator stack in ONE window pass per symbol:
    * Bollinger(20, 2σ) with %B and bandwidth, ATR-14 over Wilder's
    * true range, Keltner(20, 2·ATR) on the SMA basis, and
    * Donchian(20). Rounds out the signal surface next to
    * [[rollingMetrics]]'s SMA/RSI ladder and [[macd]] (reference
    * formula family: dbt/models/intermediate/int_rolling_metrics.sql).
    *
    * Exactness: every average/stddev runs over the scale-2 fixed-point
    * view of the prices (see [[rollingMetrics]] rationale) and every
    * derived double is rd4'd with the identical expression tree in the
    * DuckDB oracle. True range uses the prev-close via lag, with the
    * first bar's range falling back to high−low (CASE-mirrored, not
    * null-ignoring GREATEST, so both engines agree on day one).
    *
    * Scale: all five indicator families share ONE
    * `PARTITION BY symbol ORDER BY trade_date` spec — a single
    * exchange + sort feeds every frame; state is O(frame) per key. */
  def indicatorBands(bars: DataFrame, priceScale: Int = 2): DataFrame = {
    val p = math.pow(10, priceScale)
    // stage the lag-derived true range first: a window aggregate may
    // not nest another window expression in its operand. Both stages
    // share the bySymbol partitioning+ordering → one exchange+sort.
    val staged = bars.select(
      col("symbol"), col("trade_date"),
      col("close_price"), col("high_price"), col("low_price"),
      scaled(col("close_price"), priceScale).as("cfp"),
      scaled(col("high_price"), priceScale).as("hfp"),
      scaled(col("low_price"), priceScale).as("lfp"),
      lag(scaled(col("close_price"), priceScale), 1).over(bySymbol).as("pcfp"))
      .withColumn("trfp",
        when(col("pcfp").isNull, col("hfp") - col("lfp"))
          .otherwise(greatest(col("hfp") - col("lfp"),
            abs(col("hfp") - col("pcfp")), abs(col("lfp") - col("pcfp")))))
    // doubles AFTER the window agg: the frame runs on exact longs
    val mid = avg(col("cfp")).over(last(20)) / p
    val sd = stddev_samp(col("cfp")).over(last(20)) / p
    val atr = avg(col("trfp")).over(last(14)) / p
    staged.select(
      col("symbol"), col("trade_date"), col("close_price"),
      r4(mid).as("bb_mid"),
      r4(mid + lit(2) * sd).as("bb_upper"),
      r4(mid - lit(2) * sd).as("bb_lower"),
      r4((col("close_price") - (mid - lit(2) * sd)) / nullifZero(lit(4) * sd))
        .as("pct_b"),
      r4(lit(4) * sd / nullifZero(mid)).as("bb_bandwidth"),
      r4(atr).as("atr_14"),
      r4(mid + lit(2) * atr).as("kc_upper"),
      r4(mid - lit(2) * atr).as("kc_lower"),
      max(col("high_price")).over(last(20)).as("donchian_high"),
      min(col("low_price")).over(last(20)).as("donchian_low"),
      r4((max(col("high_price")).over(last(20)) +
          min(col("low_price")).over(last(20))) / 2).as("donchian_mid"))
  }

  /** The textbook Wilder RSI as an ORACLE-CHECKABLE exact fold — the
    * integer-recursion twin of [[wilderRsi]] (which streams doubles
    * through a secondary sort and can't be mirrored bit-for-bit by
    * another engine). State = [i, Σgain, Σloss, avgGain, avgLoss] in
    * scale-4 longs, advanced per return: the first `period` returns
    * seed the averages with an exact ⌊Σ/period⌋ mean, every later step
    * is Wilder's (⌊((p−1)·avg + x)/p⌋). One partial-aggregable collect
    * per symbol (days-dimension state, like [[emaClose]]); final RSI is
    * one mirrored scalar tree. Null when the loss side never fires. */
  def wilderRsiExactFold(returns: DataFrame, period: Int = 14): DataFrame = {
    require(period >= 2, "wilderRsiExactFold: period must be >= 2")
    val P = period
    val step =
      s"""(acc, x) -> array(
         |  element_at(acc, 1) + 1L,
         |  element_at(acc, 2) + element_at(x, 2),
         |  element_at(acc, 3) + element_at(x, 3),
         |  CASE WHEN element_at(acc, 1) + 1L < $P THEN 0L
         |       WHEN element_at(acc, 1) + 1L = $P
         |         THEN (element_at(acc, 2) + element_at(x, 2)) div $P
         |       ELSE (${P - 1} * element_at(acc, 4) + element_at(x, 2)) div $P END,
         |  CASE WHEN element_at(acc, 1) + 1L < $P THEN 0L
         |       WHEN element_at(acc, 1) + 1L = $P
         |         THEN (element_at(acc, 3) + element_at(x, 3)) div $P
         |       ELSE (${P - 1} * element_at(acc, 5) + element_at(x, 3)) div $P END)"""
        .stripMargin
    returnsPanel(returns, "y")
      .select(col("symbol"), struct(col("trade_date"), col("y")).as("ty"))
      .groupBy("symbol")
      .agg(sort_array(collect_list(col("ty"))).as("tys"))
      .select(col("symbol"),
        size(col("tys")).cast("long").as("n_rets"),
        expr(s"""aggregate(
                   slice(transform(tys, t -> array(1L, greatest(t.y, 0L),
                           greatest(-t.y, 0L), 0L, 0L)), 2,
                         greatest(size(tys) - 1, 0)),
                   element_at(transform(tys, t -> array(1L, greatest(t.y, 0L),
                           greatest(-t.y, 0L), 0L, 0L)), 1),
                   $step)""").as("st"))
      .filter(col("n_rets") >= P)
      .select(col("symbol"), col("n_rets"),
        r2(lit(100) - lit(100) / (lit(1) +
          element_at(col("st"), 4).cast("double") /
          nullifZero(element_at(col("st"), 5).cast("double"))))
          .as("rsi_wilder"))
  }

  /** Calendar gap-fill: scaffold every symbol's full [min, max] date
    * span (missing trading days become explicit rows), then
    * forward-fill the close with the last non-null observation — the
    * completion step that turns an event-sparse series into the dense
    * panel window/factor math assumes. `is_gap` marks synthesized
    * rows; gap volume is 0, not carried.
    *
    * Scale shape: the scaffold is symbol×calendar — a DIMENSION
    * (bounded by span length, not corpus) built from a per-symbol
    * min/max agg; the fill is one `last(_, ignoreNulls)` over the
    * shared symbol-ordered window. One agg shuffle + one equi join +
    * one window exchange. */
  def calendarFill(bars: DataFrame): DataFrame = {
    val span = bars.groupBy("symbol")
      .agg(min(col("trade_date")).as("d0"), max(col("trade_date")).as("d1"))
    val scaffold = span.select(col("symbol"),
      explode(sequence(col("d0"), col("d1"))).as("trade_date"))
    scaffold
      .join(bars.select(col("symbol"), col("trade_date"),
        col("close_price"), col("volume")), Seq("symbol", "trade_date"), "left")
      .select(col("symbol"), col("trade_date"),
        col("close_price").isNull.as("is_gap"),
        org.apache.spark.sql.functions.last(col("close_price"), ignoreNulls = true)
          .over(bySymbol.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("close_filled"),
        coalesce(col("volume"), lit(0L)).as("volume"))
  }

  /** Walk-forward (purged) cross-validation splits: the trading
    * calendar is cut into `nFolds` chronological test blocks; fold i
    * trains on every date ending `embargoDays` BEFORE its test block
    * starts (the embargo purges leakage from overlapping label
    * horizons — López de Prado's purged k-fold, the time-series
    * replacement for random CV). Dates inside the embargo or after
    * the test block are excluded from that fold. Output: one
    * (fold, trade_date, role ∈ train/test) row per usable date.
    *
    * Everything runs on the DATES dimension (distinct calendar, a few
    * thousand rows at any corpus size): one distinct, one global
    * row_number over dates (dimension-sized, deliberate), a
    * folds×dates cross join bounded by both factors. Fold id is exact
    * integer math (⌊idx·k/n⌋), so block edges are engine-portable. */
  def walkForwardSplits(bars: DataFrame, nFolds: Int = 5,
                        embargoDays: Int = 5): DataFrame = {
    require(nFolds >= 2, "walkForwardSplits: need at least 2 folds")
    val dates = bars.select(col("trade_date")).distinct()
      .withColumn("idx", row_number().over(Window.orderBy("trade_date")) - 1)
      .withColumn("n", count(lit(1)).over(Window.partitionBy()))
      .withColumn("date_fold", expr(s"(idx * $nFolds) div n"))
    val blocks = dates.groupBy(col("date_fold").as("fold"))
      .agg(min(col("trade_date")).as("test_start"))
    dates.crossJoin(blocks)
      .select(col("fold"), col("trade_date"),
        when(col("date_fold") === col("fold"), "test")
          .when(col("trade_date") <= date_sub(col("test_start"), embargoDays + 1),
            "train")
          .otherwise("excluded").as("role"))
      .filter(col("role") =!= "excluded")
  }

  /** Two-sample Kolmogorov–Smirnov distance between the return
    * distributions of the two lexicographically-first symbols — the
    * standard distribution-shift test (complements the TVD
    * distribution-drift monitor with the sup-norm statistic). Exact
    * integer form: with jumps aggregated PER VALUE first (the
    * tie-robust formulation), the scaled deviation
    * n₂·cntA(x) − n₁·cntB(x) cumsums to n₁n₂·(F̂_A − F̂_B), so
    * D = max|cum| / (n₁·n₂) is one division after an integer argmax.
    * The critical-value compare c(α)·√((n₁+n₂)/(n₁n₂)) keeps its
    * α=0.05 coefficient 1.358 as an embedded literal.
    *
    * Scale shape: two partial-aggregable reductions (per-value
    * counts), a window cumsum over the VALUE dimension (bounded by
    * distinct return values of two symbols), one 1-row rollup. */
  def ksTwoSample(returns: DataFrame): DataFrame = {
    val syms = returns.select(col("symbol")).distinct()
      .orderBy("symbol").limit(2)
      .withColumn("rnk", row_number().over(Window.orderBy("symbol")))
    val panel = returnsPanel(returns, "x").join(broadcast(syms), "symbol")
    val counts = panel.agg(
      sum(when(col("rnk") === 1, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("rnk") === 2, 1L).otherwise(0L)).as("n_b"),
      max(when(col("rnk") === 1, col("symbol"))).as("sym_a"),
      max(when(col("rnk") === 2, col("symbol"))).as("sym_b"))
    val perValue = panel.groupBy("x")
      .agg(sum(when(col("rnk") === 1, 1L).otherwise(0L)).as("ca"),
        sum(when(col("rnk") === 2, 1L).otherwise(0L)).as("cb"))
    perValue.crossJoin(broadcast(counts))
      .withColumn("delta", col("n_b") * col("ca") - col("n_a") * col("cb"))
      .withColumn("cum", sum(col("delta")).over(
        Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("sym_a", "sym_b", "n_a", "n_b")
      .agg(max(abs(col("cum"))).as("d_scaled"))
      .select(col("sym_a"), col("sym_b"), col("n_a"), col("n_b"),
        col("d_scaled"),
        rd(col("d_scaled").cast("double") /
          (col("n_a").cast("double") * col("n_b")), 6).as("d_stat"),
        (col("d_scaled").cast("double") /
          (col("n_a").cast("double") * col("n_b")) >
          lit(1.358) * sqrt((col("n_a") + col("n_b")).cast("double") /
            (col("n_a").cast("double") * col("n_b")))).as("reject_95"))
  }

  /** Spearman rank correlation of each symbol against the
    * equal-weight market index — the monotone-dependence companion to
    * [[marketBeta]]'s linear OLS slope (a symbol tracking the market
    * through any monotone distortion still scores |ρ| ≈ 1, where beta
    * bends with the curvature). The market day-return is
    * [[marketBeta]]'s exact ⌊Σy/n⌋; both series are ranked WITHIN the
    * symbol's day panel using the integer identity
    * 2·avgrank = 2·rank + ties − 1 (the [[mannWhitneySplit]]
    * discipline — no fractional rank materializes), and ρ is Pearson
    * over the doubled ranks, whose scale factor cancels. All six
    * sums are exact longs (ranks ≤ 2n, so n·Σrxry < 2⁶³ for any
    * n < 10⁶ days); the one division rounds through rd(4). Shape:
    * one broadcast join of the day-dimension index + two per-symbol
    * rank windows + a partial-aggregable rollup — S·D grain. */
  def spearmanVsMarket(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val r = returnsPanel(returns, "y").snapshot() // feeds the index build AND the join probe
    val ranked = r.join(broadcast(marketIndex(r)), "trade_date")
      .withColumn("ry",
        lit(2L) * rank().over(Window.partitionBy("symbol").orderBy("y")) +
          count(lit(1)).over(Window.partitionBy("symbol", "y")) - 1L)
      .withColumn("rx",
        lit(2L) * rank().over(Window.partitionBy("symbol").orderBy("x")) +
          count(lit(1)).over(Window.partitionBy("symbol", "x")) - 1L)
    ranked.groupBy("symbol").agg(
        count(lit(1)).as("n_days"),
        sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
        sum(col("rx") * col("ry")).as("sxy"),
        sum(col("rx") * col("rx")).as("sxx"),
        sum(col("ry") * col("ry")).as("syy"))
      .filter(col("n_days") >= minDays)
      .select(col("symbol"), col("n_days"),
        r4((col("n_days") * col("sxy") - col("sx") * col("sy")) /
          nullifZero(
            sqrt((col("n_days") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("n_days") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("rho"))
  }

  /** Theil-Sen robust trend per symbol over the last `window` bars:
    * slope = MEDIAN of all pairwise slopes (pⱼ−pᵢ)/(xⱼ−xᵢ), intercept
    * = median(pᵢ − slope·xᵢ) — the estimator that shrugs off ~29%
    * outliers where OLS (cf. [[marketBeta]]) folds at one bad print
    * (Sen, JASA 1968). x is the 1..n day index inside the window, so
    * slopes are exact-long rationals evaluated in one IEEE division.
    *
    * BOUNDED pair fan-out BY CONSTRUCTION: the self-join runs inside
    * the `window`-row tail of each symbol, so pairs ≤ W(W−1)/2 per
    * symbol (1,770 at W=60) and total work is O(S·W²) — linear in
    * symbols, the dimension that grows; the exact per-symbol
    * percentile holds ≤ 1,770 values in memory. Medians interpolate
    * identically in Spark (`percentile`) and DuckDB (`quantile_cont`),
    * so the oracle states the same arithmetic. */
  def theilSenTrend(bars: DataFrame, window: Int = 60, minDays: Int = 10): DataFrame = {
    val recent0 = bars
      .select(col("symbol"), col("trade_date"), scaled(col("close_price"), 2).as("p"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("symbol").orderBy(col("trade_date").desc)))
      .filter(col("rn") <= window)
    val recent = recent0
      .withColumn("x", count(lit(1)).over(Window.partitionBy("symbol")) - col("rn") + 1L)
      .select(col("symbol"), col("x"), col("p"))
      .snapshot() // feeds the pair join (twice) and the intercept pass
    val pairs = recent.select(col("symbol"), col("x").as("x1"), col("p").as("p1"))
      .join(recent.select(col("symbol"), col("x").as("x2"), col("p").as("p2")), "symbol")
      .filter(col("x1") < col("x2"))
      .select(col("symbol"),
        ((col("p2") - col("p1")).cast("double") /
          (col("x2") - col("x1")).cast("double")).as("sl"))
    val sm = pairs.groupBy("symbol").agg(
      count(lit(1)).as("n_pairs"),
      expr("percentile(sl, 0.5)").as("slope_med"))
    val nd = recent.groupBy("symbol").agg(count(lit(1)).as("n_days"))
    val ic = recent.join(sm.select(col("symbol"), col("slope_med")), "symbol")
      .groupBy("symbol")
      .agg(expr("percentile(CAST(p AS DOUBLE) - slope_med * CAST(x AS DOUBLE), 0.5)")
        .as("icept"))
    nd.join(sm, "symbol").join(ic, "symbol")
      .filter(col("n_days") >= minDays)
      .select(col("symbol"), col("n_days"), col("n_pairs"),
        rd(col("slope_med") / 100.0, 4).as("slope"),
        rd(col("icept") / 100.0, 4).as("intercept"))
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) per symbol: does the SECOND
    * half of a symbol's history draw returns from a shifted
    * distribution vs the first half — the rank-based, outlier-robust
    * regime-shift test next to [[ksTwoSample]]'s shape test and
    * [[cusumChangepoint]]'s mean-shift locator.
    *
    * Exactness discipline: pooled ranks use the integer identity
    * 2·avgrank = 2·rank + (ties − 1), so no fractional rank ever
    * materializes — the doubled rank sum 2R₁, the doubled statistic
    * u2 = 2U₁ = 2R₁ − n₁(n₁+1), and the tie correction Σ(t³−t) are
    * all exact longs; only the normal-approximation z (tie-corrected
    * variance, NULL when every value ties) and the AUC effect size
    * U₁/(n₁n₂) round through rd(·). Shape at scale: two per-symbol
    * windows (by date for the split, by value for ranks) and
    * partial-aggregable sums — S·D grain, no pair fan-out. */
  def mannWhitneySplit(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val r = returnsPanel(returns, "y")
    val ranked = r
      .withColumn("day_idx", row_number().over(
        Window.partitionBy("symbol").orderBy("trade_date")))
      .withColumn("n_all", count(lit(1)).over(Window.partitionBy("symbol")))
      .withColumn("grp",
        when(col("day_idx") * 2 <= col("n_all"), lit(1)).otherwise(lit(2)))
      .withColumn("rnk", rank().over(Window.partitionBy("symbol").orderBy("y")))
      .withColumn("ties", count(lit(1)).over(Window.partitionBy("symbol", "y")))
      .withColumn("avg2", lit(2L) * col("rnk") + col("ties") - 1L)
    val g = ranked.groupBy("symbol").agg(
      sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("grp") === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("grp") === 1, col("avg2")).otherwise(0L)).as("r1x2"))
    val tieTerm = ranked.groupBy("symbol", "y")
      .agg(count(lit(1)).as("t"))
      .groupBy("symbol")
      .agg(sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
    g.join(tieTerm, "symbol")
      .withColumn("n", col("n1") + col("n2"))
      .filter(col("n") >= minDays && col("n1") > 0 && col("n2") > 0)
      .withColumn("u2", col("r1x2") - col("n1") * (col("n1") + 1L))
      .select(col("symbol"), col("n1"), col("n2"), col("u2"),
        rd(col("u2").cast("double") /
          (lit(2.0) * (col("n1") * col("n2")).cast("double")), 4).as("auc"),
        rd((col("u2") - col("n1") * col("n2")).cast("double") /
          nullifZero(lit(2.0) * sqrt(
            (col("n1") * col("n2")).cast("double") / 3.0 *
              ((col("n") + 1L).cast("double") -
                col("tie3").cast("double") /
                  (col("n").cast("double") * (col("n") - 1L).cast("double"))))),
          4).as("z"))
  }

  /** Roll implied effective spread per symbol (Roll, J. Finance
    * 1984): adjacent price changes of a security that bounces between
    * bid and ask are NEGATIVELY serially covariant, and the implied
    * half-spread is recoverable from that covariance alone —
    * spread = 2·√(−cov(Δp_t, Δp_{t−1})), NULL when the covariance is
    * non-negative (no bounce signal; trending sample). The covariance
    * stays in the n-scaled integer form n·Σxy − Σx·Σy over exact
    * scaled-long price changes; one √ of one exact-ratio double, then
    * rd(4). Shape: one lag window + one rollup per symbol. */
  def rollSpread(bars: DataFrame, minDays: Int = 30): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("trade_date")
    val d = bars
      .select(col("symbol"), col("trade_date"), scaled(col("close_price"), 2).as("p"))
      .withColumn("dp", col("p") - lag(col("p"), 1).over(w))
      .withColumn("dp1", lag(col("dp"), 1).over(w))
      .filter(col("dp").isNotNull && col("dp1").isNotNull)
    d.groupBy("symbol").agg(
        count(lit(1)).as("n"),
        sum(col("dp")).as("sx"), sum(col("dp1")).as("sy"),
        sum(col("dp") * col("dp1")).as("sxy"))
      .filter(col("n") >= minDays)
      .withColumn("cov",
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("n")).cast("double"))
      .select(col("symbol"), col("n").as("n_days"),
        rd(col("cov") / 10000.0, 4).as("autocov"),
        when(col("cov") < 0.0,
          rd(lit(2.0) * sqrt(-col("cov")) / 100.0, 4)).as("spread"))
  }

  /** Range-based daily volatility estimators per symbol — the OHLC
    * family that extracts intraday variance from the bar alone:
    * Parkinson (1980, high–low), Garman–Klass (1980, OHLC), and
    * Rogers–Satchell (1991, drift-free), all annualized √(252·mean).
    * Per-day log terms u=ln(H/O), d=ln(L/O), c=ln(C/O) round through
    * scaled(·, 8) to exact longs BEFORE the per-symbol sums
    * (order-free; scale 8 keeps a last-ulp ln() disagreement ~10⁻⁹
    * BELOW the rounding boundary where scale 12 would surface it,
    * while quantizing each day's term by ≤ 5·10⁻⁹ — invisible after
    * the mean); each estimator is one √ over one exact ratio.
    * Rows with a non-positive OHLC or H < L are excluded by the
    * validity filter. Shape: narrow scan + one rollup. */
  def rangeVolatility(bars: DataFrame, minDays: Int = 30): DataFrame = {
    val valid = bars.filter(col("open_price") > 0 && col("high_price") > 0 &&
      col("low_price") > 0 && col("close_price") > 0 &&
      col("high_price") >= col("low_price"))
    val u = log(col("high_price") / col("open_price"))
    val d = log(col("low_price") / col("open_price"))
    val c = log(col("close_price") / col("open_price"))
    val terms = valid.select(col("symbol"),
      scaled((u - d) * (u - d), 8).as("park"),
      scaled(lit(0.5) * (u - d) * (u - d) -
        (lit(2.0) * log(lit(2.0)) - 1.0) * c * c, 8).as("gk"),
      scaled(u * (u - c) + d * (d - c), 8).as("rs"))
    def ann(s: Column, n: Column) =
      rd(sqrt(greatest(s.cast("double"), lit(0.0)) / n.cast("double") / 1e8 * 252.0),
        4)
    terms.groupBy("symbol").agg(
        count(lit(1)).as("n"),
        sum(col("park")).as("sp"), sum(col("gk")).as("sg"), sum(col("rs")).as("sr"))
      .filter(col("n") >= minDays)
      .select(col("symbol"), col("n").as("n_days"),
        ann(col("sp") / lit(4.0) / log(lit(2.0)), col("n")).as("vol_parkinson"),
        ann(col("sg"), col("n")).as("vol_garman_klass"),
        ann(col("sr"), col("n")).as("vol_rogers_satchell"))
  }

  /** Tracking error and information ratio of each symbol against the
    * equal-weight market index: active return a_t = r_t − m_t stays
    * an EXACT long (both legs are scaled longs — no float subtraction
    * drift), TE = √population-variance of a (n-scaled integer form),
    * IR = mean(a)/TE·√252. The pair every benchmarked portfolio
    * report leads with, next to [[sharpeRatio]]'s absolute form.
    * Shape: one broadcast day-index join + one rollup. */
  def trackingError(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val r = returnsPanel(returns, "y").snapshot() // index build AND probe
    // moments in DECIMAL(38,0): the synthetic panel carries extreme
    // returns (scaled y up to ~1e9), so a² sums and n·Σa² outgrow
    // BIGINT — same discipline as the pair-correlation lane
    r.join(broadcast(marketIndex(r)), "trade_date")
      .select(col("symbol"), (col("y") - col("x")).cast("decimal(38,0)").as("a"))
      .groupBy("symbol").agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("a")).as("sa"), sum(col("a") * col("a")).as("saa"))
      .filter(col("n") >= minDays)
      .withColumn("te",
        sqrt(coMoment("n", "saa", "sa", "sa").cast("double") /
          (col("n") * col("n")).cast("double")) / 1e4)
      .select(col("symbol"), col("n").cast("long").as("n_days"),
        rd(col("te"), 4).as("tracking_error"),
        rd(col("sa").cast("double") / col("n").cast("double") / 1e4 /
          nullifZero(col("te")) * sqrt(lit(252.0)), 4).as("info_ratio"))
  }

  /** Dickey–Fuller unit-root screen per symbol (Dickey & Fuller,
    * JASA 1979): OLS of Δp_t on p_{t−1} with intercept,
    * Δp_t = α + γ·p_{t−1} + ε. γ ≈ 0 means a unit root (random
    * walk); γ significantly < 0 means mean reversion toward α/−γ —
    * the stationarity companion to [[varianceRatio]]'s
    * moment-ratio view. γ̂ and its t-statistic come from the exact
    * five-moment normal equations: γ̂ = (nSxy−SxSy)/(nSxx−Sx²),
    * s² = (Syy̌ − γ̂²·Sxx̌)/(n−2) with the centered forms
    * Syy̌ = Syy−Sy²/n, Sxx̌ = Sxx−Sx²/n, and
    * t = γ̂·√(Sxx̌/s²) — fixed double trees over exact-long moments,
    * rd(4). (The DF t-stat's nonstandard critical value ≈ −2.86 at
    * 5%; the emitted `reject_unit_root` uses that literal.) */
  def dickeyFuller(bars: DataFrame, minDays: Int = 30): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("trade_date")
    val d = bars
      .select(col("symbol"), col("trade_date"), scaled(col("close_price"), 2).as("p"))
      .withColumn("x", lag(col("p"), 1).over(w))
      .filter(col("x").isNotNull)
      .select(col("symbol"), col("x"), (col("p") - col("x")).as("y"))
    val g = d.groupBy("symbol").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val (n, sx, sy, sxy, sxx, syy) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"), col("syy").cast("double"))
    val gamma = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val sxxC = sxx - sx * sx / n
    val syyC = syy - sy * sy / n
    val s2 = (syyC - gamma * gamma * sxxC) / (n - 2.0)
    val t = gamma * sqrt(sxxC / s2)
    g.filter(col("n") >= minDays)
      .select(col("symbol"), col("n").as("n_days"),
        rd(gamma, 4).as("gamma"),
        rd(t, 4).as("t_stat"),
        (t < -2.86).as("reject_unit_root"))
  }

  /** Engle–Granger cointegration screen over ADJACENT symbol pairs
    * (Engle & Granger, Econometrica 1987): for each lexicographic
    * neighbor pair, (1) the cointegrating regression
    * p_b = α + β·p_a by exact-moment OLS on the common date panel,
    * (2) the Dickey–Fuller test on the RESIDUAL — a stationary
    * residual (t below the EG critical value ≈ −3.34) means the two
    * prices share a stochastic trend, the statistical license behind
    * every pairs trade the [[pairsSpread]] z-scores. Pair set is the
    * S−1 adjacent pairs (the [[pairsSpread]] convention), so cost is
    * LINEAR in symbols — the screen composes, it does not re-fan the
    * S² space.
    *
    * Exactness: prices are scaled longs; the five regression moments
    * run in DECIMAL(38,0); residuals evaluate per row as one fixed
    * double tree over exact ints and ROUND BACK to integer cents
    * (⌊e+½⌋) before the DF pass, so the second regression's moments
    * are again exact — the one pattern that keeps a TWO-STAGE
    * estimator order-free end to end. Shape: two panel passes + two
    * S-grain rollups, one broadcast of the per-pair coefficients. */
  def cointegrationAdjacent(bars: DataFrame, minDays: Int = 30): DataFrame = {
    val p = bars.select(col("symbol"), col("trade_date"),
      scaled(col("close_price"), 2).as("p"))
      .snapshot() // both pair legs
    val syms = p.select(col("symbol")).distinct()
      .withColumn("rk", row_number().over(Window.orderBy("symbol")))
    val pairs = syms.select(col("symbol").as("s1"), col("rk"))
      .join(syms.select(col("symbol").as("s2"), (col("rk") - 1).as("rk")), "rk")
      .select(col("s1"), col("s2"))
    val panel = pairs
      .join(p.select(col("symbol").as("s1"), col("trade_date"), col("p").as("pa")), "s1")
      .join(p.select(col("symbol").as("s2"), col("trade_date"), col("p").as("pb")),
        Seq("s2", "trade_date"))
      .snapshot() // regression pass AND residual pass
    val g1 = panel.groupBy("s1", "s2").agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec38(col("pa"))).as("sa"), sum(dec38(col("pb"))).as("sb"),
      sum(dec38(col("pa")) * col("pb")).as("sab"),
      sum(dec38(col("pa")) * col("pa")).as("saa"))
      .filter(col("n") >= minDays)
      .select(col("s1"), col("s2"),
        ((col("n") * col("sab") - col("sa") * col("sb")).cast("double") /
          (col("n") * col("saa") - col("sa") * col("sa")).cast("double")).as("beta"),
        col("n").cast("double").as("nd"), col("sa").cast("double").as("sad"),
        col("sb").cast("double").as("sbd"))
      .withColumn("alpha", (col("sbd") - col("beta") * col("sad")) / col("nd"))
    val resid = panel.join(broadcast(g1.select(col("s1"), col("s2"),
        col("beta"), col("alpha"))), Seq("s1", "s2"))
      .select(col("s1"), col("s2"), col("trade_date"),
        floor(col("pb").cast("double") - col("alpha") -
          col("beta") * col("pa").cast("double") + 0.5).cast("long").as("e"))
    val w = Window.partitionBy("s1", "s2").orderBy("trade_date")
    val d = resid
      .withColumn("x", lag(col("e"), 1).over(w))
      .filter(col("x").isNotNull)
      .select(col("s1"), col("s2"), col("x"), (col("e") - col("x")).as("y"))
    val g2 = d.groupBy("s1", "s2").agg(
      count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec38(col("x"))).as("sx"), sum(dec38(col("y"))).as("sy"),
      sum(dec38(col("x")) * col("y")).as("sxy"),
      sum(dec38(col("x")) * col("x")).as("sxx"),
      sum(dec38(col("y")) * col("y")).as("syy"))
    val (n, sx, sy, sxy, sxx, syy) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"), col("syy").cast("double"))
    val gamma = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val sxxC = sxx - sx * sx / n
    val syyC = syy - sy * sy / n
    val t = gamma * sqrt(sxxC / ((syyC - gamma * gamma * sxxC) / (n - 2.0)))
    g2.join(g1.select(col("s1"), col("s2"), col("beta")), Seq("s1", "s2"))
      .select(col("s1"), col("s2"), col("n").cast("long").as("n_days"),
        rd(col("beta"), 4).as("beta"),
        rd(gamma, 4).as("gamma"),
        rd(t, 4).as("t_stat"),
        (t < -3.34).as("cointegrated"))
  }

  /** Dimson thin-trading beta per symbol (Dimson, J. Financial
    * Economics 1979): OLS of the symbol's return on the CONCURRENT
    * and LAGGED market return, y = α + β₀·x_t + β₁·x_{t−1} — an
    * infrequently-traded symbol's co-movement leaks into the lagged
    * coefficient, and β₀+β₁ (the "sum beta") recovers what the plain
    * [[marketBeta]] understates. Closed form: the 3×3 normal
    * equations solve by Cramer's rule over the seven exact-long
    * moment sums (each a partial-aggregable integer; the determinant
    * trees evaluate in IEEE doubles identically on any engine because
    * the INPUTS are exact and the expression order is fixed).
    * Shape: one broadcast day-index join, one lag window, one
    * grouped rollup — S·D grain, no pair fan-out. */
  def dimsonBeta(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val r = returnsPanel(returns, "y").snapshot() // feeds the index build AND the join probe
    val w = Window.partitionBy("symbol").orderBy("trade_date")
    val lagged = r.join(broadcast(marketIndex(r)), "trade_date")
      .withColumn("x1", lag(col("x"), 1).over(w))
      .filter(col("x1").isNotNull)
    // second-moment/cross sums in DECIMAL(38,0), the trackingError/
    // dickeyFuller rule: per-row products reach ~1e18 on the scaled-1e4
    // series and a LongType sum would WRAP silently at large panels
    // (the DuckDB mirror errors loudly — the two sides must not fail
    // differently); first moments stay long (≤ ~1e13)
    val m = momentSums("n", "s0", "s1", "sy", "s00", "s01", "s11", "s0y", "s1y")(
      '0' -> col("x"), '1' -> col("x1"))
    val g = lagged.groupBy("symbol").agg(m.head, m.tail: _*)
    // Cramer over [[n,s0,s1],[s0,s00,s01],[s1,s01,s11]] — fixed trees
    val (n, s0, s1, sy) =
      (col("n").cast("double"), col("s0").cast("double"),
        col("s1").cast("double"), col("sy").cast("double"))
    val (s00, s01, s11, s0y, s1y) =
      (col("s00").cast("double"), col("s01").cast("double"),
        col("s11").cast("double"), col("s0y").cast("double"), col("s1y").cast("double"))
    val det = n * (s00 * s11 - s01 * s01) - s0 * (s0 * s11 - s01 * s1) +
      s1 * (s0 * s01 - s00 * s1)
    val detA = sy * (s00 * s11 - s01 * s01) - s0 * (s0y * s11 - s01 * s1y) +
      s1 * (s0y * s01 - s00 * s1y)
    val detB0 = n * (s0y * s11 - s01 * s1y) - sy * (s0 * s11 - s01 * s1) +
      s1 * (s0 * s1y - s0y * s1)
    val detB1 = n * (s00 * s1y - s0y * s01) - s0 * (s0 * s1y - s0y * s1) +
      sy * (s0 * s01 - s00 * s1)
    g.filter(col("n") >= minDays)
      .select(col("symbol"), col("n").as("n_days"),
        rd(detA / nullifZero(det), 4).as("alpha"),
        rd(detB0 / nullifZero(det), 4).as("beta_now"),
        rd(detB1 / nullifZero(det), 4).as("beta_lag"),
        rd((detB0 + detB1) / nullifZero(det), 4).as("beta_sum"))
  }

  /** Kendall τ-b of each symbol against the equal-weight market index
    * over the last `window` trading days — the concordance companion
    * to [[spearmanVsMarket]]: τ counts ORDER agreements pair by pair,
    * so one wild outlier moves it by at most O(1/n) where Spearman's
    * rank distance can jump. τ-b corrects both tie dimensions
    * (Kendall, Biometrika 1945).
    *
    * BOUNDED pair fan-out BY CONSTRUCTION (the [[theilSenTrend]]
    * discipline): the self-join runs inside each symbol's
    * `window`-row tail, pairs ≤ W(W−1)/2 per symbol (1,770 at W=60),
    * total O(S·W²) — linear in the growing dimension. Concordant /
    * discordant / tie counts are exact longs; only the final τ-b
    * (nc−nd)/√((n0−n1)(n0−n2)) rounds through rd(4), with a NULL
    * guard when either tie product zeroes out. */
  def kendallVsMarket(returns: DataFrame, window: Int = 60,
                      minDays: Int = 10): DataFrame = {
    val r = returnsPanel(returns, "y").snapshot() // index build AND the tail probe
    val tail = r.join(broadcast(marketIndex(r)), "trade_date")
      .withColumn("rn", row_number().over(
        Window.partitionBy("symbol").orderBy(col("trade_date").desc)))
      .filter(col("rn") <= window)
      .select(col("symbol"), col("rn"), col("x"), col("y"))
      .snapshot() // both sides of the pair join
    val pairs = tail.select(col("symbol"), col("rn").as("i"),
        col("x").as("x1"), col("y").as("y1"))
      .join(tail.select(col("symbol"), col("rn").as("j"),
        col("x").as("x2"), col("y").as("y2")), "symbol")
      .filter(col("i") < col("j"))
      .select(col("symbol"),
        signum((col("x1") - col("x2")).cast("double")).cast("long").as("sx"),
        signum((col("y1") - col("y2")).cast("double")).cast("long").as("sy"))
    pairs.groupBy("symbol").agg(
        count(lit(1)).as("n0"),
        sum(when(col("sx") * col("sy") > 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("sx") * col("sy") < 0, 1L).otherwise(0L)).as("nd"),
        sum(when(col("sx") === 0L, 1L).otherwise(0L)).as("tx"),
        sum(when(col("sy") === 0L, 1L).otherwise(0L)).as("ty"))
      .filter(col("n0") >= lit(minDays.toLong * (minDays - 1) / 2))
      .select(col("symbol"), col("n0").as("n_pairs"), col("nc"), col("nd"),
        rd((col("nc") - col("nd")).cast("double") /
          nullifZero(sqrt((col("n0") - col("tx")).cast("double")) *
            sqrt((col("n0") - col("ty")).cast("double"))), 4).as("tau_b"))
  }

  /** Mann–Kendall monotonic-trend test per symbol over the last
    * `window` closes (Mann 1945; Kendall 1975) — the nonparametric
    * "is this series trending" answer beside [[theilSenTrend]]'s slope
    * (the two are the classic pairing: MK decides, Theil–Sen sizes).
    *
    *   S = Σ_{i<j in time} sgn(p_j − p_i)          (exact long)
    *   18·Var S = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5)   (tie-
    *   corrected variance, exact long; groups g = tied close values)
    *   z = (S ∓ 1) / √(var18/18)                   (continuity-
    *   corrected normal score, the only double, rd(4))
    *
    * Everything through var18 is integer arithmetic over scale-2
    * closes — order-free and bit-portable; ties are REAL here (prices
    * quantize to cents), which is why the correction term is wired in
    * rather than assumed zero.
    *
    * BOUNDED pair fan-out BY CONSTRUCTION (the [[kendallVsMarket]]
    * discipline): pairs live inside each symbol's `window`-row tail,
    * ≤ W(W−1)/2 per symbol (7 140 at W=120), total O(S·W²) — linear
    * in the symbol universe, constant in panel length. */
  def mannKendall(bars: DataFrame, window: Int = 120,
                  minDays: Int = 30): DataFrame = {
    val tail = bars
      .select(col("symbol"), col("trade_date"), scaled(col("close_price"), 2).as("p"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("symbol").orderBy(col("trade_date").desc)))
      .filter(col("rn") <= window)
      .select(col("symbol"), col("rn"), col("p"))
      .snapshot() // both sides of the pair join AND the tie rollup
    // rn DESC in time: a.rn < b.rn means a is the LATER observation,
    // so sgn(later − earlier) = sgn(a.p − b.p)
    val s = tail.select(col("symbol"), col("rn").as("i"), col("p").as("pi"))
      .join(tail.select(col("symbol"), col("rn").as("j"), col("p").as("pj")), "symbol")
      .filter(col("i") < col("j"))
      .groupBy("symbol").agg(
        count(lit(1)).as("n_pairs"),
        sum(signum((col("pi") - col("pj")).cast("double")).cast("long")).as("s_stat"))
    val n = tail.groupBy("symbol").agg(count(lit(1)).as("n_days"))
    val ties = tail.groupBy("symbol", "p").agg(count(lit(1)).as("t"))
      .groupBy("symbol").agg(
        sum(col("t") * (col("t") - 1) * (col("t") * 2 + 5)).as("tie18"))
    val g = n.join(s, "symbol").join(ties, "symbol")
      .filter(col("n_days") >= minDays)
      .withColumn("var18",
        col("n_days") * (col("n_days") - 1) * (col("n_days") * 2 + 5) - col("tie18"))
    g.select(col("symbol"), col("n_days"), col("s_stat"), col("var18"),
        rd(when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
          .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
          .otherwise(lit(0.0)) /
          nullifZero(sqrt(col("var18").cast("double") / 18.0)), 4).as("z"))
      .withColumn("trend",
        when(col("z") >= 1.96, lit("UP"))
          .when(col("z") <= -1.96, lit("DOWN"))
          .otherwise(lit("FLAT")))
  }

  /** Lo–MacKinlay variance-ratio random-walk test per symbol, in the
    * price-difference form: with p the scaled close and q the
    * aggregation horizon, x_t = p_t − p_{t−1} and y_t = p_t − p_{t−q}
    * (overlapping), VR = (Var y / q) / Var x. Under a random walk
    * VR ≈ 1; VR < 1 flags mean reversion, VR > 1 momentum (Lo &
    * MacKinlay, Rev. Financial Studies 1988). Exactness discipline:
    * both second moments stay in the n-scaled integer form
    * n·Σd² − (Σd)² — exact longs, order-free — and only the final
    * ratio (a fixed division tree over exact-long-valued doubles)
    * rounds through rd(4). The homoskedastic z = (VR−1)·√(n/(2(q−1)))
    * rides the same rounded VR. Shape: two lag windows per symbol +
    * one partial-aggregable rollup — S·D grain, no self-join. */
  def varianceRatio(bars: DataFrame, q: Int = 5, minDays: Int = 30): DataFrame = {
    require(q >= 2, "varianceRatio: q must be >= 2")
    val w = Window.partitionBy("symbol").orderBy("trade_date")
    val p = bars.select(col("symbol"), col("trade_date"),
      scaled(col("close_price"), 2).as("p"))
    val d = p
      .withColumn("x", col("p") - lag(col("p"), 1).over(w))
      .withColumn("y", col("p") - lag(col("p"), q).over(w))
    val g = d.groupBy("symbol").agg(
      sum(when(col("x").isNotNull, 1L)).as("n1"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
      sum(when(col("y").isNotNull, 1L)).as("n2"),
      sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"))
    g.filter(col("n1") >= minDays && col("n2") >= minDays)
      .withColumn("varx",
        (col("n1") * col("sxx") - col("sx") * col("sx")).cast("double") /
          (col("n1") * col("n1")).cast("double"))
      .withColumn("vary",
        (col("n2") * col("syy") - col("sy") * col("sy")).cast("double") /
          (col("n2") * col("n2")).cast("double"))
      .withColumn("vr", rd(col("vary") / lit(q.toDouble) / nullifZero(col("varx")), 4))
      .select(col("symbol"), col("n1").as("n_days"), col("vr"),
        rd((col("vr") - 1.0) *
          sqrt(col("n1").cast("double") / (2.0 * (q - 1))), 4).as("z"),
        when(col("vr") < 1.0, lit("mean_reverting"))
          .when(col("vr") > 1.0, lit("trending"))
          .otherwise(lit("random_walk")).as("regime"))
  }

  /** Page–Hinkley changepoint detector per symbol (Page, Biometrika
    * 1954; Hinkley 1971), drawdown direction: over scaled returns
    * x_i, the cumulative deviation from the RUNNING mean
    * g_t = Σ_{i≤t} (x_i − ⌊S_i/i⌋) and the alarm statistic
    * PH_t = (max_{j≤t} g_j) − g_t, which exceeds `lambda` when the
    * return process shifts persistently DOWN from its own history —
    * the sequential cousin of [[cusumChangepoint]]'s fixed-reference
    * scan. FULLY integer: the running mean floors through
    * FLOOR(S/i) (floor, not truncate — engines disagree on negative
    * integer division, never on FLOOR), so g, the running max, and
    * PH are exact longs end-to-end; no doubles anywhere. Shape:
    * three stacked per-symbol prefix windows (sum, running max) and
    * one rollup — S·D grain. Emits n_days, the peak statistic, alarm
    * count and first alarm date at threshold `lambda` (scaled 1e4,
    * i.e. 50000 = 5 return-pct points of persistent shortfall). */
  def pageHinkley(returns: DataFrame, lambda: Long = 50000L): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("trade_date")
    val pre = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = returnsPanel(returns, "x")
    x.withColumn("i", row_number().over(w))
      .withColumn("s", sum(col("x")).over(pre))
      .withColumn("dev",
        col("x") - floor(col("s").cast("double") / col("i").cast("double")).cast("long"))
      .withColumn("g", sum(col("dev")).over(pre))
      .withColumn("ph", max(col("g")).over(pre) - col("g"))
      .groupBy("symbol").agg(
        count(lit(1)).as("n_days"),
        max(col("ph")).as("max_ph"),
        sum(when(col("ph") > lambda, 1L).otherwise(0L)).as("n_alarm_days"),
        min(when(col("ph") > lambda, col("trade_date"))).as("first_alarm_date"))
  }

  /** Minimum-variance two-asset portfolio (Markowitz closed form):
    * for the two lexicographically-first symbols, the no-shorting
    * weight w* = clamp((σ²_b − σ_ab) / (σ²_a + σ²_b − 2σ_ab), 0, 1)
    * and the resulting portfolio variance beside both legs' own — the
    * smallest real instance of mean-variance optimization, exact to
    * the final divisions: all moments are n-scaled integer forms
    * (n·Σx² − (Σx)² etc.) in DECIMAL(38,0), computed over the COMMON
    * date panel (inner join on trade_date).
    *
    * Scale shape: a 2-row symbol dimension broadcast-joined onto the
    * panel, one date-keyed self-join of two single-symbol series, one
    * 1-row aggregate. */
  def minVariancePair(returns: DataFrame): DataFrame = {
    val syms = returns.select(col("symbol")).distinct()
      .orderBy("symbol").limit(2)
      .withColumn("rnk", row_number().over(Window.orderBy("symbol")))
    val panel = returnsPanel(returns, "x").join(broadcast(syms), "symbol")
    val a = panel.filter(col("rnk") === 1)
      .select(col("symbol").as("sym_a"), col("trade_date"), col("x").as("xa"))
    val b = panel.filter(col("rnk") === 2)
      .select(col("symbol").as("sym_b"), col("trade_date"), col("x").as("xb"))
    val ms = momentSums("n", "sa", "sb", "saa", "sbb", "sab")('a' -> col("xa"), 'b' -> col("xb"))
    val m = a.join(b, "trade_date").groupBy("sym_a", "sym_b").agg(ms.head, ms.tail: _*)
    val va = coMoment("n", "saa", "sa", "sa").cast("double")
    val vb = coMoment("n", "sbb", "sb", "sb").cast("double")
    val cab = coMoment("n", "sab", "sa", "sb").cast("double")
    // the n-scaled moments share the n²(n−1)·10⁸ normalizer, which
    // cancels in w*; the reported variances divide it back out
    val norm = (col("n") * (col("n") - 1)).cast("double") * 1e8
    val wRaw = (vb - cab) / (va + vb - lit(2.0) * cab)
    val wa = least(greatest(wRaw, lit(0.0)), lit(1.0))
    m.select(col("sym_a"), col("sym_b"), col("n").as("n_days"),
      r4(wa).as("w_a"), r4(lit(1.0) - wa).as("w_b"),
      rd(va / norm, 6).as("var_a"), rd(vb / norm, 6).as("var_b"),
      rd(cab / norm, 6).as("cov_ab"),
      rd((wa * wa * va + (lit(1.0) - wa) * (lit(1.0) - wa) * vb +
        lit(2.0) * wa * (lit(1.0) - wa) * cab) / norm, 6).as("port_var"))
  }

  /** Aroon(25) trend-age oscillator: days since the window high/low
    * mapped to [0,100] — the indicator that separates "new highs
    * keep arriving" (aroon_up ≈ 100) from "the high is stale". The
    * windowed ARGMAX needs no argmax window function: price and
    * recency pack into one scalar key (cents·10⁶ + rn, ties → most
    * recent, the convention), so a plain MAX/MIN window carries the
    * position of the extreme and the modulo unpacks it — exact
    * integer arithmetic, engine-portable, and the key stays inside
    * whole-stage codegen (no struct comparators).
    *
    * Output per (symbol, day) with a FULL window only:
    * (aroon_up, aroon_down, aroon_osc) at 2 dp. */
  def aroon(bars: DataFrame, period: Int = 25,
            priceScale: Int = 2): DataFrame = {
    val w = bySymbol.rowsBetween(-period, 0)
    val m = 1000000L
    val base = bars.select(col("symbol"), col("trade_date"),
      scaled(col("high_price"), priceScale).as("hc"),
      scaled(col("low_price"), priceScale).as("lc"))
      .withColumn("rn", row_number().over(bySymbol).cast("long"))
    base
      .withColumn("up_key", max(col("hc") * m + col("rn")).over(w))
      .withColumn("dn_key", min(col("lc") * m + (lit(m) - col("rn"))).over(w))
      .filter(col("rn") > period)
      .select(col("symbol"), col("trade_date"),
        (col("rn") - col("up_key") % m).as("since_high"),
        (col("rn") - (lit(m) - col("dn_key") % m)).as("since_low"))
      .select(col("symbol"), col("trade_date"),
        col("since_high"), col("since_low"),
        rd(lit(100.0) * (lit(period) - col("since_high")) / period, 2)
          .as("aroon_up"),
        rd(lit(100.0) * (lit(period) - col("since_low")) / period, 2)
          .as("aroon_down"),
        rd(lit(100.0) * (col("since_low") - col("since_high")) / period, 2)
          .as("aroon_osc"))
  }

  /** Forecast backtest with MASE (Hyndman & Koehler 2006, "Another
    * look at measures of forecast accuracy"): the SMA-5 one-step
    * forecast of daily returns scored against the naive (persistence)
    * forecast on the SAME evaluation rows — MASE < 1 means the model
    * beats naive, the scale-free forecast gate. Integer-exact: with
    * x in 4-dp longs, MAE ratios collapse to
    * Σ|w·xₜ − Σ_{t−w..t−1}x| / (w · Σ|xₜ − xₜ₋₁|) — no division
    * until the final reported numbers.
    *
    * Scale shape: two window passes inside the symbol partition (lag
    * + the trailing sum), one partial-aggregable rollup to the symbol
    * grain. */
  def forecastMase(returns: DataFrame, smaWindow: Int = 5): DataFrame = {
    val w = smaWindow
    val base = returnsPanel(returns, "x")
      .withColumn("rn", row_number().over(bySymbol))
      .withColumn("prev", lag(col("x"), 1).over(bySymbol))
      .withColumn("s5", sum(col("x")).over(bySymbol.rowsBetween(-w, -1)))
      // eligible rows: both predictors fully defined
      .filter(col("rn") > w)
    base.groupBy("symbol")
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(col("x") - col("prev"))).as("sae_naive"),
        sum(abs(lit(w.toLong) * col("x") - col("s5"))).as("sae_sma_w"))
      .select(col("symbol"), col("n_eval"),
        rd(col("sae_naive").cast("double") / col("n_eval") / 10000.0, 4)
          .as("mae_naive"),
        rd(col("sae_sma_w").cast("double") / (lit(w) * col("n_eval")) / 10000.0, 4)
          .as("mae_sma"),
        rd(col("sae_sma_w").cast("double") / (lit(w) * col("sae_naive")), 4)
          .as("mase"))
  }

  /** Additive seasonal decomposition (STL-lite): per (symbol, day),
    * value = trend + seasonal + residual with trend = the centered
    * 5-day moving average (full windows only), seasonal = the
    * day-of-week mean of the DETRENDED series per symbol, residual =
    * the remainder — the classical decomposition (Cleveland et al.'s
    * STL replaces both estimators with loess; the component algebra
    * is identical). Exact arithmetic throughout: the detrended series
    * is carried ×5 (5·x − Σ₅x, an integer), so the seasonal mean's
    * only divisions happen in the final reported columns and the
    * additive identity holds to the 4-dp rounding.
    *
    * Scale shape: one centered window pass per symbol partition, one
    * partial-aggregable (symbol, dow) aggregate joined back by its
    * own grain — no date collect, no global sort. */
  def seasonalDecompose(returns: DataFrame): DataFrame = {
    val w5 = bySymbol.rowsBetween(-2, 2)
    val base = returnsPanel(returns, "x")
      .withColumn("dow", dayofweek(col("trade_date")))
      .withColumn("t5", sum(col("x")).over(w5))
      .withColumn("c5", count(lit(1)).over(w5))
      .filter(col("c5") === 5)
      .withColumn("d5", lit(5L) * col("x") - col("t5"))
      .snapshot() // feeds the seasonal means AND the final join
    val seasonal = base.groupBy("symbol", "dow")
      .agg(sum(col("d5")).as("sd5"), count(lit(1)).as("cn"))
    base.join(seasonal, Seq("symbol", "dow"))
      .select(col("symbol"), col("trade_date"), col("dow"),
        rd(col("x").cast("double") / 10000.0, 4).as("value"),
        rd(col("t5").cast("double") / 5 / 10000.0, 4).as("trend"),
        rd(col("sd5").cast("double") / (lit(5) * col("cn")) / 10000.0, 4)
          .as("seasonal"),
        rd((col("d5").cast("double") / 5 -
          col("sd5").cast("double") / (lit(5) * col("cn"))) / 10000.0, 4)
          .as("residual"))
  }

  /** CUSUM changepoint detection (Page 1954; the offline single-
    * changepoint form): per symbol, the day where the cumulative
    * mean-deviation Σ(xⱼ − x̄) attains its maximum magnitude — the
    * argmax of the CUSUM statistic, i.e. the most likely mean-shift
    * point — with the segment means either side. The deviation is
    * kept in the exact n-scaled integer form n·Cᵢ − i·Σx (same trick
    * as [[hurstExponent]]'s blocks: no division before the argmax, so
    * the peak location is integer-exact and tie-broken by earliest
    * date), and the cp row already CARRIES Cᵢ and i, so both segment
    * means come from the same row — one window pass, one rank, no
    * second join.
    *
    * Output per symbol: (symbol, cp_date, n_days, cp_index,
    * cusum_peak, mean_before, mean_after) — mean_after null iff the
    * peak sits on the last row (only possible for a constant
    * series of length 1).
    *
    * Scale shape: two window passes inside the symbol partition
    * (cumsum + rank), then a filter — never a global sort, never a
    * second scan. */
  def cusumChangepoint(returns: DataFrame): DataFrame = {
    val w = bySymbol
    val wAll = Window.partitionBy("symbol")
    val base = returnsPanel(returns, "x")
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("c", sum(col("x")).over(w))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sx", sum(col("x")).over(wAll))
      .withColumn("dev", col("n") * col("c") - col("i") * col("sx"))
    base
      .withColumn("rk", row_number().over(
        Window.partitionBy("symbol")
          .orderBy(abs(col("dev")).desc, col("trade_date").asc)))
      .filter(col("rk") === 1)
      .select(col("symbol"), col("trade_date").as("cp_date"),
        col("n").as("n_days"), col("i").cast("int").as("cp_index"),
        rd(col("dev").cast("double") / col("n") / 10000.0, 4).as("cusum_peak"),
        rd(col("c").cast("double") / col("i") / 10000.0, 4).as("mean_before"),
        when(col("n") > col("i"),
          rd((col("sx") - col("c")).cast("double") / (col("n") - col("i")) / 10000.0, 4))
          .as("mean_after"))
  }

  /** Hurst exponent by rescaled-range (R/S) analysis (Hurst 1951;
    * Mandelbrot & Wallis 1969) — the long-memory gauge: H ≈ 0.5 for
    * a random walk, > 0.5 trending, < 0.5 mean-reverting. For each
    * power-of-two window w ∈ {8, 16, 32} the per-symbol return
    * series splits into consecutive complete blocks of w; each
    * block's rescaled range is R/S with R = range of the cumulative
    * mean-deviation and S the sample stddev, and the per-window
    * statistic is the block average. H is the least-squares slope of
    * log2(R/S) on log2(w), which for the 3-point {3,4,5} design
    * collapses to (ln(rs₃₂) − ln(rs₈)) / (2·ln 2).
    *
    * Determinism: ALL block moments are exact 4-dp-scaled integer
    * arithmetic — the deviation is the w-scaled w·C_i − i·Σx (no
    * division until the final R/S), S² comes from the textbook
    * w·Σx² − (Σx)² form, and each block's R/S is floor-rounded to
    * 6 dp before the order-free block average. The single ln() pair
    * in H is the one deliberate exception to the no-log() house rule:
    * it runs on identical doubles in both engines and Java/libm ln
    * agree to ≤ 2 ulp, which the 4-dp floor-round absorbs (unlike
    * the rank-sensitive uses the rule exists for).
    *
    * Scale shape: two window passes per (symbol, block) partition and
    * two partial-aggregable shuffles per window size — block grain,
    * then symbol grain; the three window branches join at the
    * symbol dimension. No date collect, no cross join. */
  def hurstExponent(returns: DataFrame): DataFrame = {
    val windows = Seq(8, 16, 32)
    val base = returnsPanel(returns, "x")
      .withColumn("rn", (row_number().over(bySymbol) - 1).cast("long"))
      .snapshot() // feeds all three window branches + the day count
    val perW = windows.map { w =>
      val blk = expr(s"rn DIV $w")
      val wb = Window.partitionBy(col("symbol"), blk).orderBy("rn")
      val wbAll = Window.partitionBy(col("symbol"), blk)
      val dev = lit(w.toLong) * sum(col("x")).over(wb) -
        row_number().over(wb).cast("long") * sum(col("x")).over(wbAll)
      val stats = base
        .withColumn("cnt", count(lit(1)).over(wbAll))
        .filter(col("cnt") === w)
        .withColumn("dev", dev)
        .groupBy(col("symbol"), blk.as("blk"))
        .agg((max(col("dev")) - min(col("dev"))).as("r_scaled"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
        .withColumn("s2num", lit(w.toLong) * col("sxx") - col("sx") * col("sx"))
        .filter(col("s2num") > 0)
        .withColumn("rs6i", scaled(
          (col("r_scaled").cast("double") / w) /
            sqrt(col("s2num").cast("double") / (w * (w - 1))), 6))
      // block average over EXACT scaled longs: a plain double SUM has
      // no guaranteed accumulation order across partitions, so a value
      // near a 4-dp boundary could flip nondeterministically; the long
      // sum is order-free by construction (same discipline as scaledAvg)
      stats.groupBy("symbol")
        .agg((sum(col("rs6i")).cast("double") / count(lit(1)) / 1e6)
          .as(s"rs_$w"))
    }
    val days = base.groupBy("symbol").agg(count(lit(1)).as("n_days"))
    val joined = perW.foldLeft(days)((acc, f) => acc.join(f, "symbol"))
    joined.select(col("symbol"), col("n_days"),
      r4(col("rs_8")).as("rs_8"), r4(col("rs_16")).as("rs_16"),
      r4(col("rs_32")).as("rs_32"),
      r4((log(col("rs_32")) - log(col("rs_8"))) /
        lit(2.0 * math.log(2.0))).as("hurst"))
  }

  /** Split-conformal prediction intervals (Vovk et al.; Angelopoulos
    * & Bates 2021 "A Gentle Introduction to Conformal Prediction")
    * for the persistence forecast of daily returns — the
    * distribution-free calibration gauge: with nonconformity score
    * s = |r_t − r_{t−1}|, the (1−α) conformal radius qhat is the
    * k = min(⌈(n_cal+1)(1−α)⌉, n_cal)-th SMALLEST calibration score,
    * and the eval-split coverage of [pred ± qhat] should concentrate
    * near 1−α if the score distribution is exchangeable. The
    * calibration/eval split is the deterministic even/odd
    * symbol_row_num parity (no RNG — same discipline as the hash
    * samplers), and qhat is an interpolation-free order statistic
    * (row_number over (score, trade_date)) because engines disagree
    * on quantile interpolation but agree on order statistics (same
    * choice as [[varCvar]]). The coverage compare runs on the RAW
    * qhat double (identical bits in both engines — same ops on the
    * same rd4 inputs); rounding applies only to the reported columns.
    *
    * Output per symbol: (symbol, n_cal, qhat, n_eval, n_covered,
    * coverage).
    *
    * Scale shape: two narrow window passes per symbol partition
    * (the lag + the calibration rank), then symbol-grain aggregates —
    * no date-dimension collect, no cross join; the rank selection
    * joins symbol-grain frames only. */
  def conformalIntervals(returns: DataFrame, target: Double = 0.9): DataFrame = {
    val w = bySymbol
    val scored = returns
      .withColumn("pred", lag(col("daily_return_pct"), 1).over(w))
      .filter(col("daily_return_pct").isNotNull && col("pred").isNotNull)
      .withColumn("score", abs(col("daily_return_pct") - col("pred")))
    val cal = scored.filter(col("symbol_row_num") % 2 === 0)
    val calN = cal.groupBy("symbol").agg(count(lit(1)).as("n_cal"))
    val qhat = cal
      .withColumn("rn", row_number().over(
        Window.partitionBy("symbol").orderBy(col("score"), col("trade_date"))))
      .join(calN, "symbol")
      .filter(col("rn") ===
        least(ceil((col("n_cal") + 1) * lit(target)), col("n_cal")))
      .select(col("symbol"), col("n_cal"), col("score").as("qhat"))
    scored.filter(col("symbol_row_num") % 2 === 1)
      .join(qhat, "symbol")
      .groupBy("symbol", "n_cal", "qhat")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(col("score") <= col("qhat"), 1L).otherwise(0L)).as("n_covered"))
      .select(col("symbol"), col("n_cal"), r4(col("qhat")).as("qhat"),
        col("n_eval"), col("n_covered"),
        r4(col("n_covered").cast("double") / col("n_eval")).as("coverage"))
  }

  /** Historical Value-at-Risk and Conditional VaR (expected
    * shortfall) per symbol: VaR(α) is the ⌊α·(n−1)⌋+1-th SMALLEST
    * daily return — the interpolation-free lower quantile, chosen
    * because engines disagree on quantile interpolation but agree on
    * order statistics — and CVaR is the exact mean of the tail at or
    * below it (integer sum over the sorted prefix, ONE final
    * division). Completes the downside-risk set next to
    * [[sharpeRatio]]/[[marketBeta]]/[[maxDrawdown]].
    *
    * Same days-dimension collect discipline as [[emaClose]]: the
    * sorted return array is bounded by the calendar, the tail sum is
    * an `aggregate` fold in exact longs. */
  def varCvar(returns: DataFrame, alpha: Double = 0.05,
              minDays: Int = 20): DataFrame = {
    require(alpha > 0 && alpha < 1, "varCvar: alpha in (0,1)")
    returnsPanel(returns, "y")
      .groupBy("symbol")
      .agg(sort_array(collect_list(col("y"))).as("ys"))
      .filter(size(col("ys")) >= minDays)
      .select(col("symbol"), size(col("ys")).cast("long").as("n_days"),
        (floor(lit(alpha) * (size(col("ys")) - 1)).cast("int") + 1).as("k"),
        col("ys"))
      .select(col("symbol"), col("n_days"),
        r4(element_at(col("ys"), col("k")).cast("double") / 10000.0)
          .as("var_pct"),
        r4(expr("aggregate(slice(ys, 1, k), 0L, (acc, x) -> acc + x)")
          .cast("double") / col("k") / 10000.0).as("cvar_pct"))
  }

  /** Return autocorrelation at a fixed lag — the mean-reversion /
    * momentum diagnostic (negative ACF(1) ⇒ reversion). Same exact
    * arithmetic as [[pairCorrelation]] but against the series' own
    * lag: scale-4 longs, Σ products in DECIMAL(38,0) (the
    * [[sharpeRatio]] overflow rule), the textbook correlation as ONE
    * final scalar tree. One symbol exchange feeds both the lag window
    * and the per-symbol sums. */
  def autocorrelation(returns: DataFrame, lagDays: Int = 1,
                      minDays: Int = 30): DataFrame = {
    val m = momentSums("n_pairs", "sx", "sy", "sxy", "sxx", "syy")(
      'x' -> col("y"), 'y' -> col("yl"))
    returnsPanel(returns, "y")
      .withColumn("yl", lag(col("y"), lagDays).over(bySymbol))
      .filter(col("yl").isNotNull)
      .groupBy("symbol").agg(m.head, m.tail: _*)
      .filter(col("n_pairs") >= minDays)
      .select(col("symbol"), col("n_pairs"),
        r4(correlation("n_pairs", "x", "y")).as(s"acf_$lagDays"))
  }

  /** Day-of-week seasonality profile: mean return, up-day ratio and
    * volume share per weekday across the whole panel — the calendar-
    * anomaly diagnostic (Monday effect et al.). Exact scaled sums, one
    * 7-row partial-agg shuffle. Weekday numbering is Sunday=1..Sat=7
    * (Spark `dayofweek`; the oracle mirrors DuckDB's 0-based form
    * with +1). */
  def seasonalityDow(returns: DataFrame): DataFrame = {
    val y = scaled(col("daily_return_pct"), 4)
    returns.filter(col("daily_return_pct").isNotNull)
      .select(dayofweek(col("trade_date")).as("dow"), y.as("y"), col("volume"))
      .groupBy("dow")
      .agg(count(lit(1)).as("n_days"),
        sum(col("y")).as("sy"),
        sum(when(col("y") > 0, 1L).otherwise(0L)).as("up_days"),
        sum(col("volume")).as("volume"))
      .select(col("dow"), col("n_days"),
        r4(col("sy").cast("double") / col("n_days") / 10000.0)
          .as("mean_return_pct"),
        r4(col("up_days").cast("double") / col("n_days")).as("up_ratio"),
        col("volume"))
  }

  /** Amihud illiquidity: mean of |return| per unit of dollar volume
    * (×10⁶ for readability) — the standard price-impact proxy
    * completing the risk set. Per-row ratios are fixed scale-8 longs
    * (the one place a ratio must precede the mean), the mean is an
    * exact sum in DECIMAL(38,0) (a thin day can push the row value to
    * 10¹⁸) with ONE final division. Zero-dollar-volume days drop out
    * via NULLIF, not as zeros. */
  def amihudIlliquidity(returns: DataFrame, minDays: Int = 20): DataFrame = {
    val v = abs(col("daily_return_pct")) /
      nullifZero(col("close_price") * col("volume")) * lit(1000000.0)
    returns.filter(col("daily_return_pct").isNotNull)
      .select(col("symbol"), scaled(v, 8).as("vi"))
      .filter(col("vi").isNotNull)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"), sum(dec38(col("vi"))).as("s"))
      .filter(col("n_days") >= minDays)
      .select(col("symbol"), col("n_days"),
        rd(col("s").cast("double") / col("n_days") / 1.0e8, 6)
          .as("amihud_illiq"))
  }

  /** Pairs-trading spread: pick the single most-correlated pair from
    * [[pairCorrelation]] (ties broken (corr desc, s1, s2) — corr
    * values are bit-portable, so the pick is too), then z-score the
    * pair's daily return spread over its full history — the entry/exit
    * signal of the classic statistical-arbitrage trade, composed
    * end-to-end from already-verified stages.
    *
    * Shapes: the winning pair is a 1-row broadcast; the spread stats
    * are one partial-agg pass joined back by broadcast (days-dimension
    * state, the [[crossSectionalZ]] discipline); z stays exact via
    * DECIMAL(38,0) spread squares. */
  def pairsSpread(returns: DataFrame, minDays: Int = 30): DataFrame = {
    // ONE checkpointed returns panel feeds the correlation AND both
    // spread legs — re-deriving it per consumer would triple the
    // upstream scan (measured: almost halves the query)
    val r0 = returnsPanel(returns, "xs").snapshot()
    val top = pairCorrelationFromReduced(r0, minDays)
      .orderBy(col("return_corr").desc, col("s1"), col("s2")).limit(1)
      .select(col("s1"), col("s2"))
    val r = r0.withColumnRenamed("xs", "y")
    val sp = r.join(broadcast(top), col("symbol") === col("s1"))
      .select(col("s1"), col("s2"), col("trade_date"), col("y").as("y1"))
      .join(r.select(col("symbol").as("sym2"), col("trade_date"),
        col("y").as("y2")), Seq("trade_date"))
      .filter(col("sym2") === col("s2"))
      .select(col("s1"), col("s2"), col("trade_date"),
        (col("y1") - col("y2")).as("spread"))
      // days-sized; snapshot so the stats agg and the final join don't
      // each re-run the correlation pick upstream
      .snapshot()
    val m = momentSums("n", "ss", "sss")('s' -> col("spread"))
    val st = sp.groupBy("s1", "s2").agg(m.head, m.tail: _*)
    sp.join(broadcast(st), Seq("s1", "s2"))
      .select(col("s1"), col("s2"), col("trade_date"),
        r4(col("spread").cast("double") / 10000.0).as("spread_pct"),
        r4((col("spread") - col("ss").cast("double") / col("n")) /
          nullifZero(sqrt(coMoment("n", "sss", "ss", "ss").cast("double") /
            (col("n") * (col("n") - lit(1L)))))).as("spread_z"))
  }

  /** Cross-sectional z-score of daily returns: each (symbol, day)
    * return standardized against THAT DAY's cross-section — the
    * market-neutralization step every factor pipeline runs before
    * ranking. Day stats are exact (n, Σy longs; Σy² and the variance
    * numerator in DECIMAL(38,0), the [[sharpeRatio]] overflow
    * discipline) and come back by broadcast: the stats frame is the
    * days DIMENSION, so the panel never re-shuffles. */
  def crossSectionalZ(returns: DataFrame, minSymbols: Int = 2): DataFrame = {
    val r = returnsPanel(returns, "y").snapshot() // feeds the day stats AND the join probe
    val m = momentSums("n", "sy", "syy")()
    val stats = r.groupBy("trade_date").agg(m.head, m.tail: _*)
      .filter(col("n") >= minSymbols)
    r.join(broadcast(stats), "trade_date")
      .select(col("symbol"), col("trade_date"),
        r4(col("y").cast("double") / 10000.0).as("return_pct"),
        r4((col("y") - col("sy").cast("double") / col("n")) /
          nullifZero(sqrt(coMoment("n", "syy", "sy", "sy").cast("double") /
            (col("n") * (col("n") - lit(1L)))))).as("z"))
  }

  /** 21-day momentum ranked into cross-sectional deciles per day —
    * the classic 1-month momentum factor. The lag runs on the shared
    * symbol-ordered window; the decile `ntile` re-partitions by day
    * ordered by (momentum, symbol) so ties break deterministically.
    * Two exchanges total, both over the reduced symbol×day grain. */
  def momentumDeciles(bars: DataFrame, lagDays: Int = 21): DataFrame = {
    val mom = (col("close_price") - lag(col("close_price"), lagDays).over(bySymbol)) /
      nullifZero(lag(col("close_price"), lagDays).over(bySymbol)) * 100
    val withMom = bars.select(col("symbol"), col("trade_date"),
        r4(mom).as("momentum_pct"))
      .filter(col("momentum_pct").isNotNull)
    withMom.withColumn("decile",
      ntile(10).over(Window.partitionBy("trade_date")
        .orderBy(col("momentum_pct"), col("symbol"))))
  }

  /** Momentum-decile backtest: the factor-evaluation step on top of
    * [[momentumDeciles]] — per (decile, day) the equal-weight
    * portfolio return as an exact ⌊Σy/n⌋ scale-4 integer mean (the
    * [[marketBeta]] index discipline), then per decile the return
    * compounded over the TRAILING `windowDays` portfolio days via an
    * order-pinned double fold (1·(1+m₁/10⁶)·(1+m₂/10⁶)·… in
    * trade-date order — IEEE multiply is deterministic and both
    * engines fold the same list, so the compounded double
    * hash-matches RAW, no rounding; DuckDB mirrors with
    * `list_reduce(list_prepend(1.0, …))`). The bounded window is also
    * the numeric guard: compounding an unbounded history can exceed
    * double range, where engines diverge on overflow handling.
    *
    * Scale shape: deciles + returns join at the symbol×day grain, the
    * portfolio mean is one partial-agg shuffle to (decile, day), and
    * the per-decile fold buffers only the CALENDAR dimension (the
    * [[varCvar]]/[[emaClose]] collect discipline — bounded by days,
    * never by symbols or rows). */
  def decileBacktest(bars: DataFrame, lagDays: Int = 21,
                     windowDays: Int = 60): DataFrame = {
    val rets = returnsPanel(dailyReturns(bars), "y")
    val port = momentumDeciles(bars, lagDays)
      .select(col("symbol"), col("trade_date"), col("decile"))
      .join(rets, Seq("symbol", "trade_date"))
      .groupBy("decile", "trade_date")
      .agg(sum(col("y")).as("sy"), count(lit(1)).as("n"))
      .select(col("decile"), col("trade_date"),
        floor(col("sy").cast("double") / col("n").cast("double")).cast("long").as("m"))
    val tail = s"slice(ms, greatest(1, size(ms) - ${windowDays - 1}), $windowDays)"
    port.groupBy("decile")
      .agg(count(lit(1)).as("n_days"), sum(col("m")).as("sm"),
        sort_array(collect_list(struct(col("trade_date"), col("m")))).as("ms"))
      .select(col("decile"), col("n_days"),
        r4(col("sm").cast("double") / col("n_days") / 10000.0).as("mean_daily_pct"),
        ((expr(s"aggregate(transform($tail, s -> 1.0 + s.m / 1e6), " +
          "cast(1.0 as double), (acc, x) -> acc * x)") - lit(1.0)) * 100)
          .as("cum_return_pct"))
      .orderBy("decile")
  }

  def martDailySummary(perf: DataFrame): DataFrame = {
    val ret = col("daily_return_pct")
    val orderKey = when(ret.isNotNull, struct(ret, col("symbol")))
    // The inputs being averaged here are already fixed-decimal (rd'd)
    // doubles, so we aggregate their exact fixed-point views (see
    // Funcs.scaled) — order-independent integer sums → bit-stable
    // rounded outputs, and cheaper partial aggregates at scale.
    perf.groupBy("trade_date").agg(
      countDistinct(col("symbol")).as("symbols_tracked"),
      count_if(ret > 0).as("advancers"),
      count_if(ret < 0).as("decliners"),
      count_if(ret === 0).as("unchanged"),
      r1(count_if(ret > 0) / nullifZero(countDistinct(col("symbol"))) * 100)
        .as("advance_decline_ratio_pct"),
      scaledAvg(scaled(ret, 4), 4, 4).as("avg_return_pct"),
      r4(median(scaled(ret, 4)) / 1e4).as("median_return_pct"),
      r4(stddev_samp(ret)).as("return_stddev"),
      max(ret).as("best_return_pct"),
      min(ret).as("worst_return_pct"),
      max_by(col("symbol"), orderKey).as("top_gainer_symbol"),
      min_by(col("symbol"), orderKey).as("top_loser_symbol"),
      sum(col("volume")).as("total_volume"),
      scaledAvg(scaled(col("volume_vs_avg_20d"), 4), 4, 4).as("avg_volume_vs_norm"),
      count_if(col("is_high_volume_day")).as("high_volume_stocks"),
      scaledAvg(scaled(col("annualised_volatility_pct"), 4), 4, 2).as("avg_annualised_vol_pct"),
      scaledAvg(scaled(col("intraday_range_pct"), 4), 4, 4).as("avg_intraday_range_pct"),
      count_if(col("rsi_signal") === "OVERBOUGHT").as("overbought_count"),
      count_if(col("rsi_signal") === "OVERSOLD").as("oversold_count"),
      count_if(col("ma_signal_5_20") === "GOLDEN_CROSS").as("golden_cross_5_20_count"),
      count_if(col("ma_signal_5_20") === "DEATH_CROSS").as("death_cross_5_20_count")
    ).orderBy(col("trade_date").desc)
  }

  /** Benjamini–Hochberg FDR control over the per-symbol "is the mean
    * daily return nonzero" z-tests (Benjamini & Hochberg 1995): each
    * symbol's one-sample z = m/(s/√n) from exact scale-4 moments, a
    * two-sided normal p-value via the Abramowitz–Stegun 7.1.26
    * polynomial (|ε| < 7.5·10⁻⁸, identical literals in the mirror),
    * then the step-up rule — reject the ordered p₍₁₎…p₍ₖ₎ where k is
    * the LARGEST rank with p₍ᵢ₎ ≤ α·i/m. The multiple-testing layer
    * the per-symbol test lanes (Mann–Whitney, Dickey–Fuller) feed at
    * fleet scale.
    *
    * Scale shape: the p-value frame is symbol-dimension-bounded (one
    * row per symbol), so the rank / step-up windows run over a model-
    * sized frame — the raw panel never reaches a single partition.
    * Ranks tie-break by symbol for a total order. */
  def bhFdr(returns: DataFrame, alpha: Double = 0.05,
            minDays: Int = 30): DataFrame = {
    val ms = momentSums("n_days", "sy", "syy")()
    val m = returnsPanel(returns, "y")
      .groupBy("symbol").agg(ms.head, ms.tail: _*)
      .filter(col("n_days") >= minDays)
    val sd = sqrt(coMoment("n_days", "syy", "sy", "sy")
      .cast("double") / (col("n_days").cast("double") * (col("n_days") - lit(1L))))
    val z = (col("sy").cast("double") / col("n_days")) /
      nullifZero(sd / sqrt(col("n_days").cast("double")))
    // Φ(|z|) upper tail via A&S 7.1.26: t = 1/(1+0.2316419|z|),
    // tail = φ(z)·(b₁t+…+b₅t⁵); p = 2·tail (two-sided)
    val az = abs(col("z"))
    val tt = lit(1.0) / (lit(1.0) + lit(0.2316419) * az)
    val poly = tt * (lit(0.319381530) + tt * (lit(-0.356563782) +
      tt * (lit(1.781477937) + tt * (lit(-1.821255978) + tt * lit(1.330274429)))))
    val phi = lit(0.3989422804014327) * exp(lit(-0.5) * az * az)
    // rank and threshold on the 6-dp-ROUNDED p so a last-ulp exp()
    // disagreement between engines can neither reorder ranks nor flip
    // the step-up comparison (the usual rd-boundary caveat applies)
    val withP = m.withColumn("z", z)
      .withColumn("p_value", rd(lit(2.0) * phi * poly, 6))
      // a zero-variance symbol has no test statistic (0/0 z): it must
      // not enter the family at all — before this filter its NULL p
      // sorted FIRST (rank 1, counted in m_tests), silently loosening
      // every threshold; surfaced by the generated-input prefix test
      .filter(col("p_value").isNotNull)
    val ranked = withP
      .withColumn("p_rank",
        row_number().over(Window.orderBy(col("p_value"), col("symbol"))))
      .withColumn("m_tests", count(lit(1)).over(Window.partitionBy()))
      .withColumn("passes",
        col("p_value") <= lit(alpha) * col("p_rank") / col("m_tests"))
    val kMax = max(when(col("passes"), col("p_rank"))).over(Window.partitionBy())
    ranked
      .withColumn("rejected", coalesce(col("p_rank") <= kMax, lit(false)))
      .select(col("symbol"), col("n_days"), rd(col("z"), 4).as("z_stat"),
        col("p_value"), col("p_rank"), col("m_tests"), col("rejected"))
  }

  /** Ljung–Box portmanteau test per symbol (Ljung & Box, Biometrika
    * 1978): Q = n(n+2)·Σ_{k=1..h} ρ̂_k²/(n−k) over the daily-return
    * autocorrelations — the standard "is this series white noise"
    * screen behind ARMA order selection. ρ̂_k uses the FULL-sample
    * mean and variance (the textbook estimator, not the pairwise
    * [[autocorrelation]] correlation): num = S_ab − ȳ(S_a+S_b) + n_k·ȳ²
    * over exact integer sums, fixed double tree, so both engines get
    * bit-identical ρ̂ and Q.
    *
    * Scale shape: ONE equi join serves all h lags — the left leg
    * explodes k=1..h and joins (symbol, idx−k) to (symbol, idx), so
    * lag fan-out is h·rows (h fixed), shuffled once on the symbol-
    * index key; the Q sum is a FIXED-ORDER expression over h pivoted
    * columns (never a float groupBy-sum whose order could float). */
  def ljungBox(returns: DataFrame, maxLag: Int = 5,
               minDays: Int = 40): DataFrame = {
    require(maxLag >= 1 && maxLag <= 12, s"ljungBox: maxLag out of range: $maxLag")
    val base = returnsPanel(returns, "y")
      .withColumn("idx", row_number().over(bySymbol).cast("long"))
      .snapshot() // full-sample moments AND both legs of the lag join
    val tm = momentSums("n", "sy", "syy")()
    val tot = base.groupBy("symbol").agg(tm.head, tm.tail: _*)
    val lagsLeft = base
      .withColumn("k", explode(array((1 to maxLag).map(lit(_)): _*)))
      .select(col("symbol"), col("k"), col("y"),
        (col("idx") - col("k")).as("jdx"))
    val paired = lagsLeft.join(
      base.select(col("symbol"), col("idx").as("jdx"), col("y").as("yl")),
      Seq("symbol", "jdx"))
    val lm = momentSums("nk", "sa", "sb", "sab")('a' -> col("y"), 'b' -> col("yl"))
    val perLag = paired.groupBy("symbol", "k").agg(lm.head, lm.tail: _*)
    val ybar = col("sy").cast("double") / col("n").cast("double")
    val num = col("sab").cast("double") -
      ybar * (col("sa") + col("sb")).cast("double") +
      col("nk").cast("double") * ybar * ybar
    val den = col("syy").cast("double") -
      col("n").cast("double") * ybar * ybar
    val terms = perLag.join(tot, "symbol")
      .filter(col("n") >= minDays)
      .select(col("symbol"), col("n"), col("k"),
        (num / nullifZero(den)).as("rho"))
    val pivoted = terms.groupBy("symbol").agg(
      max(col("n")).as("n_days"),
      (1 to maxLag).map(kk =>
        max(when(col("k") === kk, col("rho"))).as(s"rho_$kk")): _*)
    val nD = col("n_days").cast("double")
    val q = (1 to maxLag).map { kk =>
      col(s"rho_$kk") * col(s"rho_$kk") / (nD - lit(kk.toDouble))
    }.reduce(_ + _) * nD * (nD + lit(2.0))
    val outCols = Seq(col("symbol"), col("n_days")) ++
      (1 to maxLag).map(kk => rd(col(s"rho_$kk"), 4).as(s"rho_$kk")) ++
      Seq(rd(q, 4).as("q_stat"), lit(maxLag).as("lb_df"))
    pivoted.select(outCols: _*)
  }

  /** RiskMetrics EWMA volatility per symbol: σ²_t = λ·σ²_{t−1} +
    * (1−λ)·r²_t with λ = `lambdaPct`/100 (default 0.94, the
    * RiskMetrics daily decay) — the recursive volatility estimate the
    * rolling stddev window can't express. Same exact-fold discipline
    * as [[wilderRsiExactFold]]: returns quantize to scale-2 longs
    * (basis-point grain — keeps r⁴-free integer arithmetic in Long
    * range: r²q ≤ 1e14, λ·v ≤ 1e16), the recursion is an integer
    * `aggregate` fold over the date-sorted series (seeded with r²_1),
    * so every state is an exact long and the DuckDB `list_reduce`
    * twin is bit-identical. One per-symbol collect_list whose length
    * is the DATE dimension, not the corpus. */
  def ewmaVolatility(returns: DataFrame, lambdaPct: Int = 94,
                     minDays: Int = 30): DataFrame = {
    require(lambdaPct >= 1 && lambdaPct <= 99,
      s"ewmaVolatility: lambdaPct out of range: $lambdaPct")
    val L = lambdaPct
    val step =
      s"""(acc, q) -> array(element_at(acc, 1) + 1L,
         |  ($L * element_at(acc, 2) + ${100 - L} * q) div 100)""".stripMargin
    returnsPanel(returns, "yq", 2)
      .select(col("symbol"), struct(col("trade_date"), col("yq")).as("ty"))
      .groupBy("symbol")
      .agg(sort_array(collect_list(col("ty"))).as("tys"))
      .select(col("symbol"),
        size(col("tys")).cast("long").as("n_days"),
        expr(s"""aggregate(
                   slice(transform(tys, t -> t.yq * t.yq), 2,
                         greatest(size(tys) - 1, 0)),
                   array(1L, element_at(transform(tys, t -> t.yq * t.yq), 1)),
                   $step)""").as("st"))
      .filter(col("n_days") >= minDays)
      .select(col("symbol"), col("n_days"),
        rd(sqrt(element_at(col("st"), 2).cast("double")) / 100.0, 4)
          .as("ewma_vol_pct"))
  }

  /** Granger-causality screen over adjacent symbol pairs (Granger,
    * Econometrica 1969), lag 1: does s2's YESTERDAY return predict
    * s1's TODAY return beyond s1's own yesterday? Restricted model
    * y_t = a + b·y_{t−1}, unrestricted adds c·x_{t−1}; F = (RSS_r −
    * RSS_u)/(RSS_u/(n−3)) with 1 numerator df. Everything reduces to
    * ten exact moment sums per pair (DECIMAL(38,0) second moments,
    * the [[dimsonBeta]] rule) and a fixed centered-OLS double tree —
    * closed form, no iteration, bit-portable.
    *
    * Scale shape: the ADJACENT-pair chain (the [[cointegrationAdjacent]]
    * discipline) keeps the pair dimension linear in symbols — a full
    * S² Granger matrix is a different query; one date-aligned equi
    * join, one lag window, one grouped rollup. */
  def grangerAdjacent(returns: DataFrame, minDays: Int = 40): DataFrame = {
    val r = returnsPanel(returns, "y").snapshot() // both pair legs
    val syms = r.select(col("symbol")).distinct()
      .withColumn("rk", row_number().over(Window.orderBy("symbol")))
    val pairs = syms.select(col("symbol").as("s1"), col("rk"))
      .join(syms.select(col("symbol").as("s2"), (col("rk") - 1).as("rk")), "rk")
      .select(col("s1"), col("s2"))
    val panel = pairs
      .join(r.select(col("symbol").as("s1"), col("trade_date"), col("y").as("ya")), "s1")
      .join(r.select(col("symbol").as("s2"), col("trade_date"), col("y").as("yb")),
        Seq("s2", "trade_date"))
    val w = Window.partitionBy("s1", "s2").orderBy("trade_date")
    val lagged = panel
      .withColumn("yl", lag(col("ya"), 1).over(w))
      .withColumn("xl", lag(col("yb"), 1).over(w))
      .filter(col("yl").isNotNull && col("xl").isNotNull)
    val m = momentSums("n", "my", "m0", "m1", "m00", "m01", "m11", "m0y", "m1y", "myy")(
      'y' -> col("ya"), '0' -> col("yl"), '1' -> col("xl"))
    val g = lagged.groupBy("s1", "s2").agg(m.head, m.tail: _*)
      .filter(col("n") >= minDays)
    val n = col("n").cast("double")
    val (sy, s0, s1v) = (col("my").cast("double"),
      col("m0").cast("double"), col("m1").cast("double"))
    val (s00, s01, s11) = (col("m00").cast("double"),
      col("m01").cast("double"), col("m11").cast("double"))
    val (s0y, s1y, syy) = (col("m0y").cast("double"),
      col("m1y").cast("double"), col("myy").cast("double"))
    val s00c = s00 - s0 * s0 / n
    val s01c = s01 - s0 * s1v / n
    val s11c = s11 - s1v * s1v / n
    val s0yc = s0y - s0 * sy / n
    val s1yc = s1y - s1v * sy / n
    val syyc = syy - sy * sy / n
    val rssR = syyc - s0yc * s0yc / nullifZero(s00c)
    val det = s00c * s11c - s01c * s01c
    val b1 = (s00c * s1yc - s01c * s0yc) / nullifZero(det)
    val b0 = (s0yc * s11c - s01c * s1yc) / nullifZero(det)
    val rssU = syyc - (b0 * s0yc + b1 * s1yc)
    val f = (rssR - rssU) / nullifZero(rssU / (n - lit(3.0)))
    g.select(col("s1"), col("s2"), col("n").as("n_days"),
      rd(b1, 6).as("cross_coef"),
      rd(f, 4).as("f_stat"),
      // F(1, n−3) 5% critical value → 3.8415 as n → ∞ (χ²₁)
      (f > lit(3.8415)).as("granger_sig"))
  }

  /** Chow structural-break test per symbol (Chow, Econometrica 1960)
    * at the panel midpoint: fit the linear trend y = a + b·t on the
    * pooled series and on each half; F = ((SSR_p − SSR_1 − SSR_2)/2) /
    * ((SSR_1 + SSR_2)/(n − 4)) — the regime-shift screen behind the
    * drift monitors (Page-Hinkley's offline cousin). Per-segment SSR
    * is the centered closed form SSR = S_yy,c − S_ty,c²/S_tt,c over
    * exact moment sums (time index t is the row_number — a small
    * integer, so DECIMAL products stay modest); pooled moments are
    * the SUMS of the two halves' raw moments, so one grouped pass
    * computes everything.
    *
    * Scale shape: one window pass for t, one conditional rollup at
    * the symbol grain — S·D rows in, S out, no joins, no collect. */
  def chowBreak(returns: DataFrame, minDays: Int = 40): DataFrame = {
    val base = returnsPanel(returns, "y")
      .withColumn("t", row_number().over(bySymbol).cast("long"))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("symbol")))
      .withColumn("h", (col("t") <= expr("nn div 2")).cast("int"))
    // sum() skips the null else-branch, so each aggregate sees only
    // its segment's rows; both segments are non-empty past minDays
    def seg(h: Int, nm: String)(c: Column) =
      sum(when(col("h") === h, c)).as(s"$nm$h")
    val g = base.groupBy("symbol").agg(
      count(lit(1)).as("n"),
      seg(1, "c")(lit(1L)), seg(0, "c")(lit(1L)),
      seg(1, "st")(col("t")), seg(0, "st")(col("t")),
      seg(1, "sy")(col("y")), seg(0, "sy")(col("y")),
      seg(1, "qtt")(dec38(col("t")) * col("t")), seg(0, "qtt")(dec38(col("t")) * col("t")),
      seg(1, "qty")(dec38(col("t")) * col("y")), seg(0, "qty")(dec38(col("t")) * col("y")),
      seg(1, "qyy")(dec38(col("y")) * col("y")), seg(0, "qyy")(dec38(col("y")) * col("y")))
      .filter(col("n") >= minDays)
    def ssr(cn: Column, st: Column,
            sy: Column, stt: Column,
            sty: Column, syy: Column) = {
      val n = cn.cast("double")
      val sttc = stt.cast("double") - st.cast("double") * st.cast("double") / n
      val styc = sty.cast("double") - st.cast("double") * sy.cast("double") / n
      val syyc = syy.cast("double") - sy.cast("double") * sy.cast("double") / n
      syyc - styc * styc / nullifZero(sttc)
    }
    val ssr1 = ssr(col("c1"), col("st1"), col("sy1"),
      col("qtt1"), col("qty1"), col("qyy1"))
    val ssr2 = ssr(col("c0"), col("st0"), col("sy0"),
      col("qtt0"), col("qty0"), col("qyy0"))
    val ssrP = ssr(col("n"),
      col("st1") + col("st0"), col("sy1") + col("sy0"),
      col("qtt1") + col("qtt0"), col("qty1") + col("qty0"),
      col("qyy1") + col("qyy0"))
    val f = ((ssrP - ssr1 - ssr2) / lit(2.0)) /
      nullifZero((ssr1 + ssr2) / (col("n").cast("double") - lit(4.0)))
    g.select(col("symbol"), col("n").as("n_days"),
      col("c1").as("n_pre"), col("c0").as("n_post"),
      rd(f, 4).as("f_stat"),
      // F(2, n−4) 5% critical value → 2.9957 as n → ∞ (χ²₂/2)
      (f > lit(2.9957)).as("break_sig"))
  }

  /** GARCH(1,1) variance filter with variance targeting (Bollerslev
    * 1986; targeting per Engle & Mezrich 1996): fixed α=6%, β=92%,
    * and ω pinned to (1−α−β)·v̄ where v̄ is the symbol's unconditional
    * mean squared return — so the recursion mean-reverts to the
    * sample variance instead of carrying a free constant. Exact
    * integer fold over scale-2 squared returns, v₀ = v̄:
    *   v_t = (2·v̄ + 6·q_t + 92·v_{t−1}) div 100
    * (all terms non-negative, so div == floor and the DuckDB
    * `list_reduce` twin is bit-identical). Distinct from
    * [[ewmaVolatility]] exactly by the ω pull — the EWMA is the
    * α+β=1, ω=0 degenerate case.
    *
    * Scale shape: one groupBy(symbol) with a sorted collect of the
    * per-symbol day series (D ≈ hundreds — the same bounded-panel
    * contract every recursion lane here relies on), then a codegen'd
    * `aggregate` fold; S·D rows in, S out, zero joins. */
  def garchFilter(returns: DataFrame, minDays: Int = 30): DataFrame = {
    returnsPanel(returns, "y", 2)
      .select(col("symbol"), struct(col("trade_date"), col("y")).as("ty"))
      .groupBy("symbol")
      .agg(sort_array(collect_list(col("ty"))).as("tys"))
      .select(col("symbol"),
        size(col("tys")).cast("long").as("n_days"),
        expr("transform(tys, t -> t.y * t.y)").as("qs"))
      .filter(col("n_days") >= minDays)
      .withColumn("vbar", expr("aggregate(qs, 0L, (a, q) -> a + q) div n_days"))
      .withColumn("vn", expr(
        """element_at(aggregate(qs, array(0L, vbar),
          |  (acc, q) -> array(element_at(acc, 1) + 1L,
          |    (2 * vbar + 6 * q + 92 * element_at(acc, 2)) div 100)), 2)"""
          .stripMargin))
      .select(col("symbol"), col("n_days"),
        rd(sqrt(col("vbar").cast("double")) / 100.0, 4).as("long_run_vol_pct"),
        rd(sqrt(col("vn").cast("double")) / 100.0, 4).as("garch_vol_pct"))
  }

  /** Holt double exponential smoothing (Holt 1957 — level + linear
    * trend, no seasonal term): α=30%, β=10% as integer percents over
    * scale-2 close prices,
    *   l_t = ⌊(30·y_t + 70·(l+b))/100⌋,  b_t = ⌊(10·(l_t−l_prev) +
    *   90·b)/100⌋,
    * seeded l₂=y₂, b₂=y₂−y₁ (the textbook init — the level starts AT
    * the last seen point, so a perfect ramp folds with zero error),
    * folded from t=3; the one-step absolute
    * forecast error |y_t−(l+b)| accumulates alongside. The trend
    * numerator GOES NEGATIVE, so the division convention matters:
    * Spark's integer `div` and DuckDB's `//` BOTH truncate toward
    * zero (measured: −7//2 = −3 in DuckDB 1.x — its docs' "round
    * down" means magnitude, not floor), so plain `div` mirrors
    * bit-exactly; do NOT "fix" either side to floor semantics.
    *
    * Scale shape: identical to [[garchFilter]] — one grouped sorted
    * collect, one codegen'd fold, no joins. */
  def holtLinear(bars: DataFrame, minDays: Int = 30): DataFrame = {
    // acc = [l, b, sae, t]; e = y_t (scale-2 close)
    val lNew = "(30 * y + 70 * (element_at(acc, 1) + element_at(acc, 2))) div 100"
    val step =
      s"""(acc, y) -> array(
         |  $lNew,
         |  (10 * ($lNew - element_at(acc, 1))
         |    + 90 * element_at(acc, 2)) div 100,
         |  element_at(acc, 3)
         |    + abs(y - (element_at(acc, 1) + element_at(acc, 2))),
         |  element_at(acc, 4) + 1L)""".stripMargin
    bars
      .select(col("symbol"), struct(col("trade_date"),
        scaled(col("close_price"), 2).as("y")).as("ty"))
      .groupBy("symbol")
      .agg(sort_array(collect_list(col("ty"))).as("tys"))
      .select(col("symbol"),
        size(col("tys")).cast("long").as("n_days"),
        expr("transform(tys, t -> t.y)").as("ys"))
      .filter(col("n_days") >= minDays)
      .withColumn("st", expr(
        s"""aggregate(slice(ys, 3, greatest(size(ys) - 2, 0)),
           |  array(element_at(ys, 2),
           |        element_at(ys, 2) - element_at(ys, 1), 0L, 2L),
           |  $step)""".stripMargin))
      .select(col("symbol"), col("n_days"),
        rd(element_at(col("st"), 1).cast("double") / 100.0, 2).as("level"),
        rd(element_at(col("st"), 2).cast("double") / 100.0, 4).as("trend_per_day"),
        rd((element_at(col("st"), 1) + lit(5) * element_at(col("st"), 2))
          .cast("double") / 100.0, 2).as("forecast_5d"),
        rd(element_at(col("st"), 3).cast("double") / 100.0 /
          (col("n_days") - lit(1)).cast("double"), 4).as("one_step_mae"))
  }

  /** Jarque–Bera normality test per symbol (Jarque & Bera 1980):
    * skewness and excess kurtosis from the first four EXACT power
    * sums of scale-4 returns — y⁴ reaches ~1e21, so the third and
    * fourth moments accumulate in DECIMAL(38,0) (HUGEINT mirror, the
    * [[dimsonBeta]] rule); JB = n/6·(S² + (K−3)²/4) against the χ²₂
    * 5% critical value. The double tree after the exact sums is
    * written in one association order and mirrored verbatim.
    *
    * Scale shape: one partial-aggregable grouped pass, S·D rows in,
    * S out, no windows, no joins. */
  def jarqueBera(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val g = returnsPanel(returns, "y")
      .groupBy("symbol").agg(
        count(lit(1)).as("n"),
        sum(col("y")).as("s1"),
        sum(dec38(col("y")) * col("y")).as("s2"),
        sum(dec38(col("y")) * col("y") * col("y")).as("s3"),
        sum(dec38(col("y")) * col("y") * col("y") * col("y")).as("s4"))
      .filter(col("n") >= minDays)
    val n = col("n").cast("double")
    val mu = col("s1").cast("double") / n
    val m2 = col("s2").cast("double") / n - mu * mu
    val m3 = col("s3").cast("double") / n - lit(3.0) * mu * (col("s2").cast("double") / n) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4").cast("double") / n - lit(4.0) * mu * (col("s3").cast("double") / n) +
      lit(6.0) * mu * mu * (col("s2").cast("double") / n) - lit(3.0) * mu * mu * mu * mu
    val skew = m3 / nullifZero(sqrt(m2 * m2 * m2))
    val kurt = m4 / nullifZero(m2 * m2)
    val jb = n / lit(6.0) * (skew * skew + (kurt - lit(3.0)) * (kurt - lit(3.0)) / lit(4.0))
    g.select(col("symbol"), col("n").as("n_days"),
      rd(skew, 4).as("skewness"),
      rd(kurt, 4).as("kurtosis"),
      rd(jb, 4).as("jb_stat"),
      // χ²₂ 5% critical value
      (jb > lit(5.9915)).as("normal_rej"))
  }

  /** Lead–lag cross-correlation over adjacent symbol pairs: the CCF
    * ρ(k) = corr(a_t, b_{t−k}) at k ∈ −L..L — positive best lag means
    * b LEADS a (price-discovery screening, Hasbrouck-style, without
    * the VECM machinery). Exact moment sums per (pair, lag) feed one
    * fixed double tree; `best_lag` picks the largest |ρ| with the
    * earliest lag winning ties via a fixed CASE order, and null ρ
    * (degenerate variance) coalesces to −1 before the comparison so
    * both engines agree on every branch.
    *
    * Scale shape: the adjacent-pair chain keeps pairs linear in
    * symbols ([[grangerAdjacent]] discipline); ONE equi join on
    * (pair, idx−k) serves all 2L+1 lags (the [[ljungBox]] trick), so
    * the fan-out is (2L+1)·rows with L fixed — no per-lag passes. */
  def leadLagAdjacent(returns: DataFrame, maxLag: Int = 2,
                      minDays: Int = 40): DataFrame = {
    require(maxLag >= 1 && maxLag <= 5, s"leadLagAdjacent: maxLag out of range: $maxLag")
    def knm(k: Int): String =
      if (k < 0) s"rho_m${-k}" else if (k == 0) "rho_0" else s"rho_p$k"
    val r = returnsPanel(returns, "y").snapshot() // both pair legs
    val syms = r.select(col("symbol")).distinct()
      .withColumn("rk", row_number().over(Window.orderBy("symbol")))
    val pairs = syms.select(col("symbol").as("s1"), col("rk"))
      .join(syms.select(col("symbol").as("s2"), (col("rk") - 1).as("rk")), "rk")
      .select(col("s1"), col("s2"))
    val panel = pairs
      .join(r.select(col("symbol").as("s1"), col("trade_date"), col("y").as("ya")), "s1")
      .join(r.select(col("symbol").as("s2"), col("trade_date"), col("y").as("yb")),
        Seq("s2", "trade_date"))
      .withColumn("idx", row_number()
        .over(Window.partitionBy("s1", "s2").orderBy("trade_date")).cast("long"))
      .snapshot() // left (exploded) and right legs of the lag join
    val left = panel
      .withColumn("k", explode(array((-maxLag to maxLag).map(lit(_)): _*)))
      .select(col("s1"), col("s2"), col("k"), col("ya").as("a"),
        (col("idx") - col("k")).as("jdx"))
    val paired = left.join(
      panel.select(col("s1"), col("s2"), col("idx").as("jdx"), col("yb").as("b")),
      Seq("s1", "s2", "jdx"))
    val ms = momentSums("nk", "sa", "sb", "saa", "sbb", "sab")()
    val g = paired.groupBy("s1", "s2", "k").agg(ms.head, ms.tail: _*)
    val nkD = col("nk").cast("double")
    val (saD, sbD) = (col("sa").cast("double"), col("sb").cast("double"))
    val (saaD, sbbD, sabD) = (col("saa").cast("double"),
      col("sbb").cast("double"), col("sab").cast("double"))
    val rho = (sabD - saD * sbD / nkD) /
      nullifZero(sqrt((saaD - saD * saD / nkD) * (sbbD - sbD * sbD / nkD)))
    val pivoted = g.select(col("s1"), col("s2"), col("k"), col("nk"), rho.as("rho"))
      .groupBy("s1", "s2").agg(
        max(when(col("k") === 0, col("nk"))).as("n_days"),
        (-maxLag to maxLag).map(kk =>
          max(when(col("k") === kk, col("rho"))).as(knm(kk))): _*)
      .filter(col("n_days") >= minDays)
    val absed = (-maxLag to maxLag).map(kk => kk ->
      coalesce(abs(col(knm(kk))), lit(-1.0))).toMap
    val m = greatest((-maxLag to maxLag).map(absed): _*)
    val bestLag = (-maxLag until maxLag).foldRight(lit(maxLag)) {
      case (kk, elseC) => when(absed(kk) === m, lit(kk)).otherwise(elseC)
    }
    val bestRho = (-maxLag until maxLag).foldRight(col(knm(maxLag))) {
      case (kk, elseC) => when(absed(kk) === m, col(knm(kk))).otherwise(elseC)
    }
    val outCols = Seq(col("s1"), col("s2"), col("n_days")) ++
      (-maxLag to maxLag).map(kk => rd(col(knm(kk)), 4).as(knm(kk))) ++
      Seq(bestLag.as("best_lag"), rd(bestRho, 4).as("best_rho"))
    pivoted.select(outCols: _*)
  }

  /** Newey–West HAC inference on the mean daily return per symbol
    * (Newey & West, Econometrica 1987), Bartlett kernel at L=2:
    * long-run variance Ω = γ₀ + 2·(2γ₁ + γ₂)/3 from exact moment
    * sums (γ_k over the k-lagged products, each divided by the FULL
    * n — the textbook estimator), se(ȳ) = √(Ω/n), t = ȳ/se — "is the
    * drift real once serial correlation is priced in", the honest
    * version of the naive t-test the [[sharpe]] lane implies.
    *
    * Scale shape: same single lag join serving both lags as
    * [[ljungBox]]; everything else is one grouped pass. */
  def neweyWest(returns: DataFrame, minDays: Int = 40): DataFrame = {
    val base = returnsPanel(returns, "y")
      .withColumn("idx", row_number().over(bySymbol).cast("long"))
      .snapshot() // full-sample moments AND both legs of the lag join
    val tm = momentSums("n", "sy", "syy")()
    val tot = base.groupBy("symbol").agg(tm.head, tm.tail: _*)
    val lagsLeft = base
      .withColumn("k", explode(array(lit(1), lit(2))))
      .select(col("symbol"), col("k"), col("y"),
        (col("idx") - col("k")).as("jdx"))
    val paired = lagsLeft.join(
      base.select(col("symbol"), col("idx").as("jdx"), col("y").as("yl")),
      Seq("symbol", "jdx"))
    val lm = momentSums("nk", "sa", "sb", "sab")('a' -> col("y"), 'b' -> col("yl"))
    val perLag = paired.groupBy("symbol", "k").agg(lm.head, lm.tail: _*)
    val nD = col("n").cast("double")
    val ybar = col("sy").cast("double") / nD
    val num = col("sab").cast("double") -
      ybar * (col("sa") + col("sb")).cast("double") +
      col("nk").cast("double") * ybar * ybar
    val gk = num / nD
    val pivoted = perLag.join(tot, "symbol")
      .filter(col("n") >= minDays)
      .select(col("symbol"), col("n"), col("sy"), col("syy"), col("k"),
        gk.as("g"))
      .groupBy("symbol").agg(
        max(col("n")).as("n"), max(col("sy")).as("sy"), max(col("syy")).as("syy"),
        max(when(col("k") === 1, col("g"))).as("g1"),
        max(when(col("k") === 2, col("g"))).as("g2"))
    val n2 = col("n").cast("double")
    val mu = col("sy").cast("double") / n2
    val g0 = (col("syy").cast("double") - n2 * mu * mu) / n2
    val lrv = g0 + lit(2.0) * (lit(2.0) * col("g1") + col("g2")) / lit(3.0)
    val se = sqrt(lrv / n2)
    val t = mu / nullifZero(se)
    pivoted.select(col("symbol"), col("n").as("n_days"),
      rd(mu / 10000.0, 4).as("mean_return_pct"),
      rd(se / 10000.0, 6).as("hac_se_pct"),
      rd(t, 4).as("t_stat"),
      (abs(t) > lit(1.96)).as("drift_sig"))
  }

  /** Wald–Wolfowitz runs test per symbol (Wald & Wolfowitz 1940): is
    * the SIGN sequence of daily returns random? Zero returns drop
    * (the textbook convention), R = 1 + #{sign flips} over the
    * remaining date-ordered sequence, and under H₀
    * μ_R = 1 + 2n₊n₋/n, σ²_R = 2n₊n₋(2n₊n₋−n)/(n²(n−1)); z=(R−μ_R)/σ_R
    * against ±1.96. The flip count is a lag window over the filtered
    * sequence — exact integers in, one fixed double tree out.
    *
    * Scale shape: one symbol-partitioned window + one grouped
    * rollup; S·D rows in, S out. */
  def runsTest(returns: DataFrame, minDays: Int = 40): DataFrame = {
    val base = returnsPanel(returns, "y")
      .filter(col("y") =!= 0)
      .withColumn("s", when(col("y") > 0, lit(1)).otherwise(lit(-1)))
      .withColumn("prev", lag(col("s"), 1).over(bySymbol))
    val g = base.groupBy("symbol").agg(
      count(lit(1)).as("n"),
      sum(when(col("s") === 1, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("s") === -1, 1L).otherwise(0L)).as("n_neg"),
      sum(when(col("prev").isNotNull && col("s") =!= col("prev"), 1L)
        .otherwise(0L)).as("flips"))
      .filter(col("n") >= minDays)
    val nD = col("n").cast("double")
    val npD = col("n_pos").cast("double")
    val nnD = col("n_neg").cast("double")
    val rD = (col("flips") + lit(1L)).cast("double")
    val muR = lit(1.0) + lit(2.0) * npD * nnD / nD
    val sig2 = lit(2.0) * npD * nnD * (lit(2.0) * npD * nnD - nD) /
      (nD * nD * (nD - lit(1.0)))
    val z = (rD - muR) / nullifZero(sqrt(sig2))
    g.select(col("symbol"), col("n").as("n_days"),
      col("n_pos"), col("n_neg"),
      (col("flips") + lit(1L)).as("n_runs"),
      rd(z, 4).as("z_stat"),
      (abs(z) > lit(1.96)).as("random_rej"))
  }

  /** Upside/downside beta decomposition (Ang, Chen & Xing, RFS 2006):
    * the [[marketBeta]] OLS slope computed separately over market-up
    * (x>0) and market-down (x<0) days — asymmetric market exposure,
    * with capture_ratio = β⁺/β⁻ as the summary. Flat-market days
    * (⌊x⌋=0) belong to neither regime. Same equal-weight integer
    * market index, same DECIMAL(38,0) final scalars, conditional
    * moment sums in ONE grouped pass (no second join).
    *
    * Scale shape: identical to [[marketBeta]] — one broadcast date
    * join, one partial-aggregable rollup. */
  def upDownBeta(returns: DataFrame, minSide: Int = 10): DataFrame = {
    val r = returnsPanel(returns, "y").snapshot() // feeds the index build AND the join probe
    def side(cond: Column, nm: String) = Seq(
      sum(when(cond, 1L).otherwise(0L)).as(s"n_$nm"),
      sum(when(cond, col("x"))).as(s"sx_$nm"),
      sum(when(cond, col("y"))).as(s"sy_$nm"),
      sum(when(cond, dec38(col("x")) * col("y"))).as(s"sxy_$nm"),
      sum(when(cond, dec38(col("x")) * col("x"))).as(s"sxx_$nm"))
    val g = r.join(broadcast(marketIndex(r)), "trade_date")
      .groupBy("symbol")
      .agg((side(col("x") > 0, "up") ++ side(col("x") < 0, "dn")).head,
        (side(col("x") > 0, "up") ++ side(col("x") < 0, "dn")).tail: _*)
      .filter(col("n_up") >= minSide && col("n_dn") >= minSide)
    def beta(nm: String) =
      coMoment(s"n_$nm", s"sxy_$nm", s"sx_$nm", s"sy_$nm").cast("double") /
        nullifZero(coMoment(s"n_$nm", s"sxx_$nm", s"sx_$nm", s"sx_$nm").cast("double"))
    g.select(col("symbol"), col("n_up"), col("n_dn"),
      rd(beta("up"), 4).as("beta_up"),
      rd(beta("dn"), 4).as("beta_down"),
      rd(beta("up") / nullifZero(beta("dn")), 4).as("capture_ratio"))
  }

  /** Weight-of-evidence / information value of the cross-sectional
    * return decile as a predictor of tomorrow's direction (the
    * credit-scoring feature screen — Siddiqi 2006 — applied to the
    * momentum signal): decile g of today's return (ntile 10 within
    * each date, symbol tiebreak), outcome = next-day return > 0;
    * WOE_g = ln((pos_g/P)/(neg_g/N)), IV = Σ_g (pos_g/P − neg_g/N)·
    * WOE_g. Exact counts everywhere; ln only in the final tree.
    *
    * Scale shape: one symbol window (lead), one date window (ntile),
    * one 10-row rollup — S·D in, 10 rows out; the IV total is a
    * window sum over those 10 rows. */
  def woeIv(returns: DataFrame): DataFrame = {
    val base = returnsPanel(returns, "y")
      .withColumn("y_next", lead(col("y"), 1).over(bySymbol))
      .filter(col("y_next").isNotNull)
      .withColumn("decile", ntile(10).over(
        Window.partitionBy("trade_date").orderBy(col("y"), col("symbol"))))
    val g = base.groupBy("decile").agg(
      sum(when(col("y_next") > 0, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("y_next") <= 0, 1L).otherwise(0L)).as("n_neg"))
    val all = Window.partitionBy()
    val p = col("n_pos").cast("double") / sum(col("n_pos")).over(all).cast("double")
    val q = col("n_neg").cast("double") / sum(col("n_neg")).over(all).cast("double")
    // zero-cell deciles NULL out explicitly (excluded from IV — the
    // standard treatment): Spark's log(0) is NULL but DuckDB's ln(0)
    // is −Infinity, so the guard must fire BEFORE the log on both
    // engines, not rely on the log's own domain behavior
    val woe = when(col("n_pos") > 0 && col("n_neg") > 0, log(p / q))
    // IV terms quantize to scale-6 longs BEFORE the all-rows window
    // sum (the "6 dp before the order-free sum" rule): integer
    // addition is order-free, so the 10-row total is bit-stable
    // under any window evaluation order on both engines
    val withWoe = g.select(col("decile"), col("n_pos"), col("n_neg"),
      woe.as("woe"), scaled((p - q) * woe, 6).as("iv6"))
    withWoe.select(col("decile"), col("n_pos"), col("n_neg"),
        rd(col("woe"), 4).as("woe"),
        (col("iv6").cast("double") / 1000000.0).as("iv_term"),
        rd(sum(col("iv6")).over(all).cast("double") / 1000000.0, 4).as("iv_total"))
  }

  /** Omega ratio at threshold 0 (Keating & Shadwick 2002): Σ gains /
    * Σ |losses| — the whole-distribution risk ratio that needs no
    * variance assumption. Gains and losses are exact scale-4 long
    * sums; the ratio is one double division; `n_up`/`n_down` expose
    * the hit rate alongside.
    *
    * Scale shape: one partial-aggregable grouped pass, no windows. */
  def omegaRatio(returns: DataFrame, minDays: Int = 30): DataFrame = {
    returnsPanel(returns, "y")
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("y") > 0, 1L).otherwise(0L)).as("n_up"),
        sum(when(col("y") < 0, 1L).otherwise(0L)).as("n_down"),
        sum(when(col("y") > 0, col("y")).otherwise(lit(0L))).as("gains"),
        sum(when(col("y") < 0, -col("y")).otherwise(lit(0L))).as("losses"))
      .filter(col("n_days") >= minDays)
      .select(col("symbol"), col("n_days"), col("n_up"), col("n_down"),
        rd(col("gains").cast("double") / 10000.0, 4).as("sum_gains_pct"),
        rd(col("losses").cast("double") / 10000.0, 4).as("sum_losses_pct"),
        rd(col("gains").cast("double") / nullifZero(col("losses").cast("double")), 4)
          .as("omega"))
  }

  /** Calmar ratio: annualized mean return over |max drawdown| — the
    * drawdown-denominated performance ratio beside [[sharpeRatio]].
    * The per-row drawdown quantizes to a scale-4 long (same running-
    * peak window and double tree as [[maxDrawdown]], then ⌊·10⁴+½⌋)
    * BEFORE the min, so the rollup is exact-integer; one pass serves
    * both the return sum and the drawdown min.
    *
    * Scale shape: one symbol-ordered window (the shared returns-lane
    * exchange) + one grouped rollup. */
  def calmarRatio(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val peak = max(col("close_price"))
      .over(bySymbol.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val dd4 = scaled((col("close_price") - peak) / nullifZero(peak) * 100, 4)
    val g = returns.filter(col("daily_return_pct").isNotNull)
      .select(col("symbol"), scaled(col("daily_return_pct"), 4).as("y"),
        dd4.as("dd4"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("sy"),
        min(col("dd4")).as("mdd4"))
      .filter(col("n_days") >= minDays)
    val annRet = col("sy").cast("double") / col("n_days").cast("double") /
      10000.0 * 252.0
    val mdd = col("mdd4").cast("double") / 10000.0
    g.select(col("symbol"), col("n_days"),
      rd(annRet, 4).as("ann_return_pct"),
      rd(mdd, 4).as("max_drawdown_pct"),
      rd(annRet / nullifZero(abs(mdd)), 4).as("calmar"))
  }

  /** Ulcer index + Martin ratio (Martin & McCann 1989): UI =
    * √(Σdd²/n) over the per-day drawdown-from-peak percentages, and
    * Martin = annualized return / UI — the drawdown analog of Sharpe
    * that weights HOW LONG and HOW DEEP the account sat underwater,
    * not just the worst print. Drawdowns quantize to scale-4 longs
    * ([[calmarRatio]] rule) and their squares accumulate in
    * DECIMAL(38,0), so the mean-square is exact before the one final
    * √ — order-free end to end.
    *
    * Scale shape: identical to [[calmarRatio]]. */
  def ulcerIndex(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val peak = max(col("close_price"))
      .over(bySymbol.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val dd4 = scaled((col("close_price") - peak) / nullifZero(peak) * 100, 4)
    val g = returns.filter(col("daily_return_pct").isNotNull)
      .select(col("symbol"), scaled(col("daily_return_pct"), 4).as("y"),
        dd4.as("dd4"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_days"), sum(col("y")).as("sy"),
        sum(dec38(col("dd4")) * col("dd4")).as("sdd2"))
      .filter(col("n_days") >= minDays)
    val ui = sqrt(col("sdd2").cast("double") /
      col("n_days").cast("double")) / 10000.0
    val annRet = col("sy").cast("double") / col("n_days").cast("double") /
      10000.0 * 252.0
    g.select(col("symbol"), col("n_days"),
      rd(ui, 4).as("ulcer_index"),
      rd(annRet, 4).as("ann_return_pct"),
      rd(annRet / nullifZero(ui), 4).as("martin_ratio"))
  }

  /** Durbin-Watson serial-correlation statistic per symbol (Durbin &
    * Watson 1950): DW = Σ(e_t−e_{t−1})² / Σe_t² over mean-centered
    * returns, DW∈[0,4], ≈2 under no autocorrelation — the classic
    * regression-residual diagnostic next to [[ljungBox]]'s
    * portmanteau form (one lag, exact sampling bounds vs χ² on many).
    *
    * Exactness: center WITHOUT division — e_t·n = n·y_t − Σy, so
    *   DW = Σ(n·Δy)² / Σ(n·y − Σy)²  (the n² factor cancels).
    * Numerator/denominator accumulate in DECIMAL(38,0) (n·y reaches
    * ~10⁴·10⁶, its square ~10²⁰ — past Long, the [[sharpeRatio]]
    * rule), mirrored HUGEINT; one final double division.
    *
    * Scale shape: one lag window + one partial-aggregable groupBy on
    * the already-reduced symbol×day panel — D·S grain, no joins. */
  def durbinWatson(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val base = returnsPanel(returns, "y")
      .withColumn("dy", col("y") - lag(col("y"), 1).over(bySymbol))
    val m = momentSums("n", "sy", "sdd", "syy")('d' -> col("dy"))
    val g = base.groupBy("symbol").agg(m.head, m.tail: _*)
      .filter(col("n") >= minDays)
    // Σ(n·y−Σy)² = n²Σy² − n(Σy)²  (expand once, keep sums exact);
    // Σ(n·Δy)² = n²ΣΔy² — the n² cancels against the denominator's
    val den = dec38(col("n")) * col("n") * col("syy") -
      dec38(col("n")) * col("sy") * col("sy")
    val num = dec38(col("n")) * col("n") * col("sdd")
    g.select(col("symbol"), col("n").as("n_days"),
      rd(num.cast("double") / nullifZero(den.cast("double")), 4).as("dw_stat"),
      (num.cast("double") / nullifZero(den.cast("double")) < 1.5)
        .as("positive_autocorr"))
  }

  /** SAX symbolic representation per symbol (Lin, Keogh et al. 2003):
    * the close series is PAA-reduced to `segments` equal-count chunks
    * (ntile over the date order), each chunk's mean price quantized to
    * an `alphabet`-letter symbol by RANK among the symbol's own chunk
    * means (equiprobable breakpoints via ntile again — the empirical
    * twin of SAX's Gaussian breakpoints, no distribution assumption),
    * concatenated into one word per symbol. The standard discrete
    * sketch for motif/shape search over a price panel: symbols whose
    * words match share coarse shape.
    *
    * Exactness: chunk means compare as ⌊10⁴·Σclose2 / n⌋ (truncating
    * integer division over exact scale-2 sums — positive prices, so
    * trunc = floor in both engines); ties in (mean4, seg) order are
    * impossible past seg, making both ntiles deterministic.
    *
    * Scale shape: two window passes + one groupBy on the D·S panel;
    * the word is `segments` chars — output is catalog-sized (one row
    * per symbol). */
  def saxWords(bars: DataFrame, segments: Int = 8, alphabet: Int = 4,
               minDays: Int = 30): DataFrame = {
    val seg = bars
      .withColumn("seg",
        ntile(segments).over(bySymbol.orderBy("trade_date")))
      .groupBy("symbol", "seg")
      .agg(count(lit(1)).as("n_seg"),
        sum(scaled(col("close_price"), 2)).as("sc2"))
      .withColumn("mean4", expr("(sc2 * 100) div n_seg"))
    val lettered = seg
      .withColumn("letter_idx",
        ntile(alphabet).over(
          org.apache.spark.sql.expressions.Window.partitionBy("symbol")
            .orderBy(col("mean4"), col("seg"))) - 1)
      .withColumn("letter",
        // 'a' + idx, built portably from the literal alphabet
        element_at(array(('a' until ('a' + alphabet).toChar)
          .map(c => lit(c.toString)): _*), col("letter_idx") + 1))
    lettered.groupBy("symbol")
      .agg(sum(col("n_seg")).as("n_days"),
        concat_ws("",
          array_sort(collect_list(struct(col("seg"), col("letter"))))
            .getField("letter")).as("sax_word"))
      .filter(col("n_days") >= minDays)
      .select(col("symbol"), col("n_days").cast("long").as("n_days"),
        col("sax_word"))
  }

  /** Cross-sectional quantile normalization of daily returns
    * (Bolstad et al. 2003, the microarray standard): replace each
    * symbol's r-th smallest return with the CROSS-SYMBOL mean of r-th
    * smallest returns — after it, every symbol has an identical
    * marginal distribution, the batch-effect correction a panel of
    * heterogeneous instruments (or training-data feature columns)
    * gets before pooled modeling.
    *
    * Exactness: ranks are row_number over (y, trade_date) — total
    * order, no ties to break; the rank mean is ⌊Σy/k⌋ via `div`
    * (TRUNCATING integer division, negative-capable, same operator
    * semantics as DuckDB's `//` — both truncate toward zero, pinned
    * by the r13 holt/ou investigation).
    *
    * Scale shape: one window + one groupBy(rank) + one broadcast-size
    * join back on (rank) — the rank table holds max-days rows
    * (time-dimension-sized, broadcastable at any S). */
  def quantileNormalize(returns: DataFrame): DataFrame = {
    val base = returnsPanel(returns, "y")
      .withColumn("rnk",
        row_number().over(bySymbol.orderBy(col("y"), col("trade_date"))))
    val rankMeans = base.groupBy("rnk").agg(
      count(lit(1)).as("k"), sum(col("y")).as("sy"))
      .withColumn("qn4", expr("sy div k"))
    base.join(broadcast(rankMeans.select(col("rnk"), col("qn4"))), Seq("rnk"))
      .select(col("symbol"), col("trade_date"),
        (col("y").cast("double") / 1e4).as("return_pct"),
        (col("qn4").cast("double") / 1e4).as("qn_return_pct"))
  }

  /** Fama–MacBeth two-pass cross-sectional regression (Fama &
    * MacBeth, JPE 1973) of daily returns on a `lookback`-day momentum
    * signal: pass 1 fits, PER TRADING DAY, the closed-form OLS slope
    * γ_d of return on signal across symbols; pass 2 treats the γ_d
    * series as i.i.d. draws and reports its mean and t-statistic —
    * the standard risk-premium test, robust to cross-sectional
    * correlation because each day contributes exactly one draw.
    *
    * Exactness: signal and return are scale-4 longs; per-day moment
    * sums run in DECIMAL(38,0) (the [[dimsonBeta]] rule — per-row
    * products reach ~1e18); each γ_d evaluates one fixed double tree
    * then re-quantizes to a scale-6 long, so the PASS-2 sums are
    * exact integers again and the grand mean is aggregation-order
    * free. Scale shape: one window pass (S·D rows), one
    * groupBy(trade_date) partial agg, one global 1-row agg — no
    * joins, no pair space. */
  def famaMacbeth(returns: DataFrame, lookback: Int = 20,
                  minSymbols: Int = 10): DataFrame = {
    val mom = bySymbol.rowsBetween(-lookback, -1)
    val base = returnsPanel(returns, "y")
      .withColumn("x", sum(col("y")).over(mom))
      .withColumn("nw", count(lit(1)).over(mom))
      .filter(col("nw") === lookback) // full-lookback signals only
    val dm = momentSums("n", "sx", "sy", "sxx", "sxy")()
    val daily = base.groupBy("trade_date").agg(dm.head, dm.tail: _*)
      .filter(col("n") >= minSymbols)
    val (n, sx, sy, sxx, sxy) = (col("n").cast("double"),
      col("sx").cast("double"), col("sy").cast("double"),
      col("sxx").cast("double"), col("sxy").cast("double"))
    val gamma = (n * sxy - sx * sy) / nullifZero(n * sxx - sx * sx)
    val g6 = daily
      .select(floor(gamma * 1e6 + 0.5).cast("long").as("g"))
      .filter(col("g").isNotNull)
    val gm = momentSums("d", "sg", "sgg")() :+ sum(when(col("g") > 0, 1L).otherwise(0L)).as("npos")
    val agg = g6.agg(gm.head, gm.tail: _*)
    val (d, sg, sgg) = (col("d").cast("double"),
      col("sg").cast("double"), col("sgg").cast("double"))
    val mean = sg / d / 1e6
    // d = 1 (a single cross-section) has no slope variance: t is NULL
    // there, not an engine-dependent 0/0 (the anovaDow convention)
    val varG = (sgg - sg * sg / d) / nullifZero(d - 1.0) / 1e12
    val t = mean / sqrt(varG / d)
    agg.select(col("d").cast("long").as("n_days"),
      rd(mean, 6).as("gamma_mean"),
      rd(t, 4).as("t_stat"),
      rd(col("npos").cast("double") / d, 4).as("pct_days_positive"))
  }

  /** KPSS level-stationarity test per symbol (Kwiatkowski, Phillips,
    * Schmidt & Shin, J. Econometrics 1992): η = Σ_t S_t² / (n²·s²)
    * where S_t are partial sums of demeaned returns and s² is the
    * Bartlett long-run variance at lag 2 — the null is STATIONARY,
    * the complement of [[dickeyFuller]]'s unit-root null; a series
    * rejected by both is the classic "neither I(0) nor I(1)" flag.
    *
    * Exactness: with y the scale-4 return, T_t := n·P_t − t·Σy
    * (P_t the running prefix sum) equals n·S_t exactly in integers —
    * prefix sums of longs are associative, so window internals can't
    * perturb them; demeaned autocovariances use u_t := n·y_t − Σy.
    * Substituting: η = Σ T_t² / (n · s2*) with s2* = γ0* + 2·(⅔γ1* +
    * ⅓γ2*) over the u-series — every input to the final one-line
    * double tree is an exact integer (squares in DECIMAL(38,0)).
    * Scale shape: two window passes + one grouped rollup per symbol,
    * no joins. */
  def kpss(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val base = returnsPanel(returns, "y")
      .withColumn("t", row_number().over(bySymbol).cast("long"))
      .withColumn("p", sum(col("y")).over(
        bySymbol.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("symbol")))
      .withColumn("sy", sum(col("y")).over(Window.partitionBy("symbol")))
      .withColumn("u1", lead(col("n") * col("y") - col("sy"), 1).over(bySymbol))
      .withColumn("u2", lead(col("n") * col("y") - col("sy"), 2).over(bySymbol))
    val g = base.groupBy("symbol").agg(
      count(lit(1)).as("n"),
      sum(dec38(col("n") * col("p") - col("t") * col("sy"))
        * (col("n") * col("p") - col("t") * col("sy"))).as("st2"),
      sum(dec38(col("n") * col("y") - col("sy"))
        * (col("n") * col("y") - col("sy"))).as("g0"),
      sum(dec38(col("n") * col("y") - col("sy")) * col("u1")).as("g1"),
      sum(dec38(col("n") * col("y") - col("sy")) * col("u2")).as("g2"))
      .filter(col("n") >= minDays)
    val (n, st2, g0, g1, g2) = (col("n").cast("double"),
      col("st2").cast("double"), col("g0").cast("double"),
      col("g1").cast("double"), col("g2").cast("double"))
    val s2 = (lit(3.0) * g0 + lit(4.0) * coalesce(g1, lit(0.0))
      + lit(2.0) * coalesce(g2, lit(0.0))) / lit(3.0)
    val eta = st2 / nullifZero(n * s2)
    g.select(col("symbol"), col("n").cast("long").as("n_days"),
      rd(eta, 4).as("kpss_stat"),
      // 5% critical value for level stationarity (KPSS Table 1)
      (eta < 0.463).as("stationary"))
  }

  /** Engle's ARCH-LM test per symbol (Engle, Econometrica 1982) at
    * lag 1: regress squared returns on their own lag, LM = n·R²,
    * reject homoskedasticity past χ²₁(5%) = 3.8415 — the standard
    * pre-test before fitting [[garchFilter]]-style variance models.
    *
    * Exactness: q_t := y_t² div 10⁴ re-quantizes the squared scale-4
    * return back to scale 4; all five moment sums of (q_{t−1}, q_t)
    * are exact (DECIMAL(38,0) for the quadratics) and R² is one
    * fixed double tree. Scale shape: one lag window + one grouped
    * rollup, no joins. */
  def archLm(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val base = returnsPanel(returns, "y")
      .withColumn("q", expr("(y * y) div 10000"))
      .withColumn("x", lag(col("q"), 1).over(bySymbol))
      .filter(col("x").isNotNull)
    val m = momentSums("n", "sx", "sq", "sxx", "sxq", "sqq")()
    val g = base.groupBy("symbol").agg(m.head, m.tail: _*)
      .filter(col("n") >= minDays)
    val (n, sx, sq, sxx, sxq, sqq) = (col("n").cast("double"),
      col("sx").cast("double"), col("sq").cast("double"),
      col("sxx").cast("double"), col("sxq").cast("double"),
      col("sqq").cast("double"))
    val num = (n * sxq - sx * sq) * (n * sxq - sx * sq)
    val den = (n * sxx - sx * sx) * (n * sqq - sq * sq)
    val r2 = num / nullifZero(den)
    g.select(col("symbol"), col("n").cast("long").as("n_days"),
      rd(r2, 6).as("r2"),
      rd(n * r2, 4).as("lm_stat"),
      (n * r2 > 3.8415).as("arch_sig"))
  }

  /** Permutation entropy per symbol (Bandt & Pompe, PRL 2002), order
    * 3: the Shannon entropy of the distribution of ordinal patterns
    * of consecutive return triples — a model-free complexity score
    * (trending ramps concentrate on one pattern → low H; i.i.d.
    * noise spreads over all six → H ≈ ln 6).
    *
    * Ties break toward the EARLIER observation (a ≤ b counts as
    * ascending — the convention Bandt–Pompe state for discretized
    * data). Patterns are encoded by the 3-bit comparison key
    * (a≤b)·4 + (b≤c)·2 + (a≤c); keys 1 and 6 are logically
    * impossible, leaving the 6 permutations. Exactness: the six
    * counts are exact longs; the entropy is a FIXED-ORDER six-term
    * double sum (no order-dependent aggregation of doubles — the
    * six terms are written out and added in a pinned order).
    * Scale shape: two lag windows + one grouped rollup, no joins. */
  def permutationEntropy(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val base = returnsPanel(returns, "c")
      .withColumn("a", lag(col("c"), 2).over(bySymbol))
      .withColumn("b", lag(col("c"), 1).over(bySymbol))
      .filter(col("a").isNotNull)
      .withColumn("pat",
        when(col("a") <= col("b"), 4).otherwise(0) +
          when(col("b") <= col("c"), 2).otherwise(0) +
          when(col("a") <= col("c"), 1).otherwise(0))
    val validPats = Seq(0, 2, 3, 4, 5, 7)
    val cnts = count(lit(1)).as("n") +: validPats.map(p =>
      sum(when(col("pat") === p, 1L).otherwise(0L)).as(s"c$p"))
    val g = base.groupBy("symbol")
      .agg(cnts.head, cnts.tail: _*)
      .filter(col("n") >= minDays)
    val nD = col("n").cast("double")
    // fixed-order entropy sum: term_p = (c_p/n)·ln(n/c_p), zero when empty
    val h = validPats.map { p =>
      val c = col(s"c$p").cast("double")
      when(col(s"c$p") > 0, c / nD * log(nD / c)).otherwise(lit(0.0))
    }.reduce(_ + _)
    val maxC = greatest(validPats.map(p => col(s"c$p")): _*)
    g.select(col("symbol"), col("n").cast("long").as("n_triples"),
      rd(h, 6).as("perm_entropy"),
      rd(h / math.log(6.0), 6).as("h_normalized"),
      rd(maxC.cast("double") / nD, 4).as("max_pattern_share"))
  }

  /** Rolling 20-day volume-weighted average price per symbol-day with
    * the close's deviation from it — the execution-quality benchmark
    * ([[q_rolling_metrics]]'s SMA weights days equally; VWAP weights
    * them by traded volume, so high-volume days anchor the band).
    * Output is bounded to each symbol's LAST `keepDays` rows (the
    * screen a monitoring mart publishes), full-window rows only.
    *
    * Exactness: numerator Σ close₂·vol and denominator Σ vol are
    * exact longs over the 20-row frame; the only doubles are the two
    * final rd(4) divisions with fixed trees. Scale shape: two window
    * passes over the bars panel, no joins, S·D rows in, S·keepDays
    * out. */
  def rollingVwap(bars: DataFrame, window: Int = 20,
                  keepDays: Int = 100): DataFrame = {
    val w = bySymbol.rowsBetween(-(window - 1), 0)
    val base = bars
      .select(col("symbol"), col("trade_date"),
        scaled(col("close_price"), 2).as("c2"), col("volume"))
      .withColumn("vnum", sum(col("c2") * col("volume")).over(w))
      .withColumn("vden", sum(col("volume")).over(w))
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("rn_desc", row_number().over(
        Window.partitionBy("symbol").orderBy(col("trade_date").desc)))
      .filter(col("nw") === window && col("rn_desc") <= keepDays)
    val vw = col("vnum").cast("double") / col("vden").cast("double")
    base.select(col("symbol"), col("trade_date"),
      col("vden").cast("long").as("volume_20d"),
      rd(vw / 100.0, 4).as("vwap_20d"),
      rd((col("c2").cast("double") - vw) / vw * 100.0, 4).as("dev_pct"))
  }

  /** Wilder's Average Directional Index per symbol (Wilder, *New
    * Concepts in Technical Trading Systems*, 1978) — the
    * trend-STRENGTH gauge next to [[q_wilder_rsi]]'s momentum and
    * [[q_macd]]'s direction: +DM/−DM split each day's range
    * expansion, Wilder-smooth (s ← (13·s) div 14 + x, the integer
    * form of s − s/14 + x), DX = 100·|S⁺−S⁻|/(S⁺+S⁻) (the true-range
    * denominator cancels), ADX = Wilder-smoothed DX. Seeds are zero
    * state folded from the second row — the simplified contract
    * (documented bug-for-bug with the oracle, like the two-RSI
    * note): no 14-day SMA warm-up period.
    *
    * Exactness: close₂/high₂/low₂ are scale-2 longs; the fold is
    * integer-only ([[garchFilter]]'s sorted-collect + `aggregate`
    * shape) with truncating `div` (mirrors DuckDB `//`); DX at
    * scale 4. Scale shape: one grouped sorted collect + one
    * codegen'd fold; S·D rows in, S out, zero joins. */
  def adxFilter(bars: DataFrame, minDays: Int = 30): DataFrame = {
    val base = bars
      .select(col("symbol"), struct(col("trade_date"),
        scaled(col("high_price"), 2).as("h"),
        scaled(col("low_price"), 2).as("l")).as("thl"))
      .groupBy("symbol")
      .agg(sort_array(collect_list(col("thl"))).as("thls"))
      .select(col("symbol"),
        size(col("thls")).cast("long").as("n_days"),
        expr("transform(thls, t -> t.h)").as("hs"),
        expr("transform(thls, t -> t.l)").as("ls"))
      .filter(col("n_days") >= minDays)
      // per-step directional movement: up = h_t − h_{t−1},
      // dn = l_{t−1} − l_t; +DM = up if up > dn and up > 0 else 0
      .withColumn("dms", expr(
        """transform(sequence(2, cast(size(hs) as int)), i -> array(
          |  CASE WHEN element_at(hs, i) - element_at(hs, i - 1)
          |            > element_at(ls, i - 1) - element_at(ls, i)
          |        AND element_at(hs, i) - element_at(hs, i - 1) > 0
          |       THEN element_at(hs, i) - element_at(hs, i - 1) ELSE 0L END,
          |  CASE WHEN element_at(ls, i - 1) - element_at(ls, i)
          |            > element_at(hs, i) - element_at(hs, i - 1)
          |        AND element_at(ls, i - 1) - element_at(ls, i) > 0
          |       THEN element_at(ls, i - 1) - element_at(ls, i) ELSE 0L END))"""
          .stripMargin))
      // fold state: [s_plus, s_minus, adx4] — Wilder-smooth both DM
      // sides, then Wilder-smooth the scale-4 DX of the NEW state
      .withColumn("st", expr(
        """aggregate(dms, array(0L, 0L, 0L), (acc, dm) -> array(
          |  (13 * element_at(acc, 1)) div 14 + element_at(dm, 1),
          |  (13 * element_at(acc, 2)) div 14 + element_at(dm, 2),
          |  (13 * element_at(acc, 3)) div 14 +
          |    CASE WHEN ((13 * element_at(acc, 1)) div 14 + element_at(dm, 1))
          |            + ((13 * element_at(acc, 2)) div 14 + element_at(dm, 2)) > 0
          |         THEN (1000000 * abs(
          |             ((13 * element_at(acc, 1)) div 14 + element_at(dm, 1))
          |           - ((13 * element_at(acc, 2)) div 14 + element_at(dm, 2))))
          |           div (((13 * element_at(acc, 1)) div 14 + element_at(dm, 1))
          |              + ((13 * element_at(acc, 2)) div 14 + element_at(dm, 2)))
          |         ELSE 0L END))""".stripMargin))
    val (sp, sm, adx) = (element_at(col("st"), 1), element_at(col("st"), 2),
      element_at(col("st"), 3))
    base.select(col("symbol"), col("n_days"),
      sp.as("smoothed_dm_plus"), sm.as("smoothed_dm_minus"),
      rd(lit(100.0) * abs(sp - sm).cast("double") /
        nullifZero((sp + sm).cast("double")), 4).as("dx_last"),
      // the smoothed-DX state divided by its own Wilder gain (14): a
      // long-run-average DX in [0, 100] at scale 4 → points
      rd(adx.cast("double") / 1e4 / 14.0, 4).as("adx"))
  }

  /** Kyle's lambda per symbol (Kyle, *Econometrica* 1985) — the
    * price-IMPACT slope: OLS of the signed daily return on the signed
    * dollar volume (sign(r)·volume·close as the order-flow proxy, the
    * daily-data convention). Complements [[q_amihud]]'s ratio
    * estimator with the regression form, and [[q_roll_spread]]'s
    * effective-spread lens with the depth lens — together the
    * microstructure triptych a liquidity screen ranks by.
    *
    * Exactness: y is the scale-4 return, x the scale-2 signed dollar
    * volume (exact long ≤ ~1e10/day); all five moment sums accumulate
    * in DECIMAL(38,0) per the [[dimsonBeta]] overflow rule. The slope
    * and the flow correlation are each ONE double tree over the exact
    * moments, mirrored verbatim. Scale shape: one partial-aggregable
    * grouped pass over the returns panel — S·D rows in, S out, no
    * joins, no windows. */
  def kyleLambda(returns: DataFrame, minDays: Int = 30): DataFrame = {
    val y = scaled(col("daily_return_pct"), 4)
    val x = (when(col("daily_return_pct") < 0, -1L).otherwise(1L) *
      col("volume") * scaled(col("close_price"), 2))
    val m = momentSums("n_days", "sx", "sy", "sxy", "sxx", "syy")()
    val g = returns.filter(col("daily_return_pct").isNotNull)
      .select(col("symbol"), y.as("y"), x.as("x"))
      .groupBy("symbol").agg(m.head, m.tail: _*)
      .filter(col("n_days") >= minDays)
    val covN = coMoment("n_days", "sxy", "sx", "sy").cast("double")
    val varXN = coMoment("n_days", "sxx", "sx", "sx").cast("double")
    val varYN = coMoment("n_days", "syy", "sy", "sy").cast("double")
    g.select(col("symbol"), col("n_days"),
      // slope in scaled units × 1e4 = pct-return per million dollars
      rd(covN / nullifZero(varXN) * 1e4, 6).as("lambda_per_musd"),
      rd(covN / nullifZero(sqrt(varXN * varYN)), 6).as("flow_corr"))
  }

  /** Additive Holt–Winters triple exponential smoothing per symbol
    * (Winters, *Management Science* 1960) with the 5-session trading
    * week as the season — the seasonal step past [[holtLinear]]'s
    * level+trend, fit as the same integer `aggregate` fold. Percent
    * gains in integer form: α=0.30, β=0.10, γ=0.20 with truncating
    * `div` (DuckDB `//`). Seeds are the simplified documented
    * contract (the [[adxFilter]] convention): l₀ = mean of the first
    * five closes (truncating), b₀ = 0, sᵢ = yᵢ − l₀; the fold starts
    * at the sixth observation. The 7-slot state rotates the seasonal
    * queue in-array: slot 3 is always NEXT step's seasonal, so the
    * one-step forecast is l + b + s₃.
    *
    * Exactness: scale-2 closes, integer-only recursion, exact SAE
    * accumulator; the only doubles are final rd() divisions. Scale
    * shape: one grouped sorted collect + one codegen'd fold — S·D
    * rows in, S out, zero joins ([[garchFilter]]'s envelope). */
  def holtWinters(bars: DataFrame, minDays: Int = 40): DataFrame = {
    val sOld = "element_at(acc, 3)"
    val lNew = s"(30 * (element_at(e, 1) - $sOld)" +
      " + 70 * (element_at(acc, 1) + element_at(acc, 2))) div 100"
    val bNew = s"(10 * (($lNew) - element_at(acc, 1))" +
      " + 90 * element_at(acc, 2)) div 100"
    val sNew = s"(20 * (element_at(e, 1) - ($lNew)) + 80 * $sOld) div 100"
    val step =
      s"""(acc, e) -> array(
         |  $lNew,
         |  $bNew,
         |  element_at(acc, 4), element_at(acc, 5),
         |  element_at(acc, 6), element_at(acc, 7),
         |  $sNew,
         |  element_at(acc, 8) + abs(element_at(e, 1)
         |    - (element_at(acc, 1) + element_at(acc, 2) + $sOld)),
         |  element_at(acc, 9) + 1L)""".stripMargin
    val l0 = "((element_at(ys, 1) + element_at(ys, 2) + element_at(ys, 3)" +
      " + element_at(ys, 4) + element_at(ys, 5)) div 5)"
    bars
      .select(col("symbol"), struct(col("trade_date"),
        scaled(col("close_price"), 2).as("y")).as("ty"))
      .groupBy("symbol")
      .agg(sort_array(collect_list(col("ty"))).as("tys"))
      .select(col("symbol"),
        size(col("tys")).cast("long").as("n_days"),
        expr("transform(tys, t -> t.y)").as("ys"))
      .filter(col("n_days") >= minDays)
      .withColumn("st", expr(
        s"""aggregate(
           |  transform(slice(ys, 6, greatest(size(ys) - 5, 0)),
           |    y -> array(y, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)),
           |  array($l0, 0L,
           |    element_at(ys, 1) - $l0, element_at(ys, 2) - $l0,
           |    element_at(ys, 3) - $l0, element_at(ys, 4) - $l0,
           |    element_at(ys, 5) - $l0, 0L, 5L),
           |  $step)""".stripMargin))
      .select(col("symbol"), col("n_days"),
        rd(element_at(col("st"), 1).cast("double") / 100.0, 2).as("level"),
        rd(element_at(col("st"), 2).cast("double") / 100.0, 4).as("trend_per_day"),
        rd(greatest((3 to 7).map(i => element_at(col("st"), i)): _*)
          .cast("double") / 100.0 -
          least((3 to 7).map(i => element_at(col("st"), i)): _*)
            .cast("double") / 100.0, 2).as("seasonal_amplitude"),
        rd((element_at(col("st"), 1) + element_at(col("st"), 2)
          + element_at(col("st"), 3)).cast("double") / 100.0, 2).as("forecast_1d"),
        rd(element_at(col("st"), 8).cast("double") / 100.0 /
          (col("n_days") - lit(5)).cast("double"), 4).as("one_step_mae"))
  }

  /** Herfindahl–Hirschman volume concentration per trading day —
    * "how concentrated was today's flow across symbols": HHI =
    * Σ_s (v_s/V)² = (Σ v_s²)/(Σ v_s)², the antitrust-grade
    * concentration index applied to market volume, plus the top
    * symbol's share — the market-breadth screen next to
    * [[q_activity_heatmap]]'s raw volume grid. A day where one
    * symbol trades everything scores 1; N equal symbols score 1/N.
    *
    * Exactness: Σv² and V² run in DECIMAL(38,0) (HUGEINT mirror);
    * HHI is ONE double division of the two exact sums — no per-share
    * rounding, no order dependence at all. Scale shape: one
    * partial-aggregable rollup at (symbol, day) input grain → D rows
    * out, no windows, no joins. */
  def hhiConcentration(bars: DataFrame): DataFrame = {
    bars.groupBy("trade_date")
      .agg(count(lit(1)).as("n_symbols"),
        sum(col("volume")).as("total_volume"),
        sum(dec38(col("volume")) * dec38(col("volume"))).as("sumsq"),
        max(col("volume")).as("max_volume"))
      .select(col("trade_date"),
        col("n_symbols").cast("long").as("n_symbols"),
        col("total_volume").cast("long").as("total_volume"),
        rd(col("sumsq").cast("double") /
          (dec38(col("total_volume")) * dec38(col("total_volume"))).cast("double"), 6)
          .as("hhi"),
        rd(col("max_volume").cast("double") /
          col("total_volume").cast("double"), 4).as("top_share"))
  }

  /** One-way ANOVA F across day-of-week return groups (Fisher) — the
    * parametric "does the weekday matter" test beside
    * [[q_seasonality_dow]]'s per-day means and [[q_kruskal_wallis]]'s
    * rank-based form: SSB = Σ_g S_g²/n_g − S²/n, SSW = Q − Σ_g S_g²/n_g
    * from the exact power sums, F = (SSB/(k−1))/(SSW/(n−k)).
    *
    * Exactness: y is the scale-4 return; S_g (long) and Q (DECIMAL —
    * y² passes 1e8·rows) are exact; each S_g²/n_g lands as ONE
    * floor-quantized long in scaled² units (the group frame is
    * ≤ 7 rows, so the quantized sum is order-free and tiny), S²/n
    * the same; F and η² are fixed double trees over those longs.
    * Scale shape: one partial-aggregable (dow) rollup at panel grain;
    * everything after lives on the ≤7-row group frame. */
  def anovaDow(returns: DataFrame): DataFrame = {
    val g = returnsPanel(returns, "y")
      .select(dayofweek(col("trade_date")).cast("long").as("dow"), col("y"))
      .groupBy("dow")
      .agg(count(lit(1)).as("ng"), sum(col("y")).as("sg"),
        sum(dec38(col("y")) * dec38(col("y"))).as("qg"))
      // S_g²/n_g quantized once per group (scaled² units, scale 0)
      .withColumn("ag", scaled((dec38(col("sg")) * dec38(col("sg"))).cast("double") /
        col("ng").cast("double"), 0))
    g.agg(sum(col("ng")).as("n"), count(lit(1)).as("k"),
        sum(col("sg")).as("s"), sum(col("qg")).as("q"),
        sum(col("ag")).as("a"))
      .withColumn("b", scaled((dec38(col("s")) * dec38(col("s"))).cast("double") /
        col("n").cast("double"), 0))
      .select(col("n").cast("long").as("n_days"),
        col("k").cast("long").as("k_groups"),
        rd((col("a") - col("b")).cast("double") / 1e8, 4).as("ss_between"),
        rd((col("q") - col("a")).cast("double") / 1e8, 4).as("ss_within"),
        rd((col("a") - col("b")).cast("double") /
          nullifZero((col("k") - lit(1)).cast("double")) /
          nullifZero((col("q") - col("a")).cast("double") /
            (col("n") - col("k")).cast("double")),
          4).as("f_stat"),
        rd((col("a") - col("b")).cast("double") /
          nullifZero((col("q") - col("b")).cast("double")), 6).as("eta_sq"))
  }

  /** Corwin–Schultz high-low spread estimator per symbol (Corwin &
    * Schultz, JF 2012): bid-ask spread recovered from DAILY high/low
    * ranges alone — highs are buys, lows are sells, so the range
    * embeds the spread once the 2-day variance component is netted
    * out. The third leg of the liquidity triptych next to
    * [[q_roll_spread]]'s autocovariance and [[kyleLambda]]'s impact
    * slope, usable where tick data doesn't exist.
    *
    * Per overlapping day pair (t, t+1): β = ln²(H_t/L_t) +
    * ln²(H_{t+1}/L_{t+1}), γ = ln²(H_pair/L_pair),
    * α = (√(2β) − √β)/(3 − 2√2) − √(γ/(3 − 2√2)),
    * spread_t = 2(e^α − 1)/(1 + e^α) — negative estimates KEPT in
    * the mean (the paper's Table-1 convention; `pct_positive` shows
    * how often the estimator lands in-domain).
    *
    * Exactness: H/L are scale-2 longs; each pair's spread is one
    * fixed double tree quantized to a scale-9 long (the jsDivergence
    * device), so the symbol mean is an order-free integer sum. Scale
    * shape: one lead window + one partial-aggregable rollup. */
  def corwinSchultz(bars: DataFrame, minDays: Int = 30): DataFrame = {
    val base = bars
      .select(col("symbol"), col("trade_date"),
        scaled(col("high_price"), 2).as("h"), scaled(col("low_price"), 2).as("l"))
      .filter(col("l") > 0)
      .withColumn("h2", lead(col("h"), 1).over(bySymbol))
      .withColumn("l2", lead(col("l"), 1).over(bySymbol))
      .filter(col("h2").isNotNull)
    def ln2(a: Column, b: Column) = {
      val r = log(a.cast("double") / b.cast("double"))
      r * r
    }
    val k = lit(3.0) - lit(2.0) * sqrt(lit(2.0))
    val beta = ln2(col("h"), col("l")) + ln2(col("h2"), col("l2"))
    val gamma = ln2(greatest(col("h"), col("h2")), least(col("l"), col("l2")))
    val alpha = (sqrt(lit(2.0) * beta) - sqrt(beta)) / k - sqrt(gamma / k)
    val s = lit(2.0) * (exp(alpha) - lit(1.0)) / (lit(1.0) + exp(alpha))
    base.withColumn("s9", scaled(s, 9))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_pairs"), sum(col("s9")).as("ss"),
        sum(when(col("s9") > 0, 1L).otherwise(0L)).as("npos"))
      .filter(col("n_pairs") >= minDays)
      .select(col("symbol"), col("n_pairs").cast("long").as("n_pairs"),
        rd(col("ss").cast("double") / col("n_pairs").cast("double") / 1e9 * 100.0, 4)
          .as("cs_spread_pct"),
        rd(col("npos").cast("double") / col("n_pairs").cast("double"), 4)
          .as("pct_positive"))
  }

  /** Friedman rank test across day-of-week "treatments" with symbols
    * as blocks (Friedman, JASA 1937), plus Page's L trend statistic
    * over the same ranks (Page, JASA 1963) — the nonparametric
    * repeated-measures complement to [[anovaDow]]'s parametric F: F
    * asks "do weekday MEAN returns differ", Friedman asks it after
    * reducing each symbol to within-block ranks (so one volatile
    * symbol can't dominate), and Page's L adds "do they TREND
    * monotonically across the week".
    *
    * Block value = the symbol's truncating-mean scale-4 return per
    * dow (Σy div n — the quantileNormalize div convention); only
    * COMPLETE blocks (all k dows present) enter, so every block
    * contributes the same rank budget. Ranks are row_number over
    * (value, dow) — a total order, ties broken by dow identically in
    * both engines (the [[spearmanVsMarket]] convention).
    *
    *   χ²_F = 12/(n·k·(k+1)) · Σ_j R_j² − 3·n·(k+1)
    *   L    = Σ_j j·R_j (j = the dow label 1..7)
    *
    * R_j, ΣR_j², and L are exact longs; χ²_F is a fixed double tree;
    * the 5% significance gate is ALL-INTEGER ([[Cohorts.mcnemar]]'s
    * device): 12·10⁴·ΣR² − 3·10⁴·n²·k·(k+1)² > crit4·n·k·(k+1) with
    * crit4 = χ²₆(5%)·10⁴ = 125916, NULLed when the panel's k ≠ 7.
    * Scale shape: one (symbol, dow) rollup at panel grain, one
    * ≤7-row-per-symbol rank window, two bounded rollups. */
  def friedmanDow(returns: DataFrame, expectK: Int = 7,
                  chi2Crit4: Long = 125916L): DataFrame = {
    val cell = returnsPanel(returns, "y")
      .select(col("symbol"), dayofweek(col("trade_date")).cast("long").as("dow"), col("y"))
      .groupBy("symbol", "dow")
      .agg(count(lit(1)).as("ng"), sum(col("y")).as("sy"))
      .withColumn("m", expr("sy div ng"))
    // k stays DATA-DRIVEN and LAZY (the oracle's fr_k CTE shape): a
    // 1-row aggregate broadcast-crossed into the plan, never an eager
    // count() action at construction time — the plan re-derives k on
    // every execution, like every other operator here.
    val kf = cell.agg(countDistinct(col("dow")).cast("long").as("k"))
    val complete = cell
      .withColumn("ndow", count(lit(1)).over(Window.partitionBy("symbol")))
      .crossJoin(broadcast(kf))
      .filter(col("ndow") === col("k"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("symbol").orderBy(col("m"), col("dow"))).cast("long"))
    val nb = complete.select(col("symbol")).distinct()
      .agg(count(lit(1)).as("n"))
    val rj = complete.groupBy("dow")
      .agg(sum(col("rnk")).as("rj"))
    val g = rj.agg(sum(dec38(col("rj")) * col("rj")).as("sr2"),
        sum(col("dow") * col("rj")).as("page_l"))
      .crossJoin(broadcast(nb))
      .crossJoin(broadcast(kf))
    val (n, kk) = (col("n").cast("double"), col("k").cast("double"))
    g.select(col("n").cast("long").as("n_blocks"),
      col("k").as("k_treatments"),
      col("sr2").cast("long").as("sum_r2"),
      col("page_l").cast("long").as("page_l"),
      rd(lit(12.0) * col("sr2").cast("double") /
        nullifZero(n * kk * (kk + lit(1.0))) -
        lit(3.0) * n * (kk + lit(1.0)), 4).as("chi2_f"),
      when(col("k") === expectK.toLong,
        lit(120000L).cast("decimal(38,0)") * col("sr2") -
          dec38(lit(30000L)) * dec38(col("n")) * dec38(col("n")) *
            dec38(col("k") * (col("k") + lit(1L)) * (col("k") + lit(1L))) >
          dec38(lit(chi2Crit4)) * dec38(col("n")) * dec38(col("k") * (col("k") + lit(1L))))
        .as("significant"))
  }

  /** Seasonal-naive MASE panel per symbol (Hyndman & Koehler, IJF
    * 2006): the scale-free forecast-accuracy denominator every
    * M-competition metric standardizes on. Scores the naive-1
    * forecast (ŷ_t = y_{t−1}) against the seasonal-naive benchmark
    * (ŷ_t = y_{t−season}, season = 5 trading days): MASE < 1 means
    * yesterday's close beats last week's same-weekday close — the
    * go/no-go gate before shipping any fancier model
    * ([[holtWinters]], [[holtLinear]]) whose MAE plugs into the same
    * denominator. Both error sums run over the SAME rows (t > season,
    * where both lags exist), so the count cancels and MASE is the
    * exact ratio of two integer SAE sums.
    *
    * Exactness: scale-2 closes; both SAEs are exact long sums;
    * the three outputs are fixed double trees. Scale shape: one
    * window pass (two lags share the sort) + one partial-aggregable
    * symbol rollup — S·D rows in, S out, no joins. */
  def maseSeasonalNaive(bars: DataFrame, season: Int = 5,
                        minDays: Int = 30): DataFrame = {
    require(season >= 1, "maseSeasonalNaive: season must be positive")
    val base = bars
      .select(col("symbol"), col("trade_date"),
        scaled(col("close_price"), 2).as("y"))
      .withColumn("l1", lag(col("y"), 1).over(bySymbol))
      .withColumn("ls", lag(col("y"), season).over(bySymbol))
      .filter(col("ls").isNotNull) // both lags defined from t = season+1
    base.groupBy("symbol")
      .agg(count(lit(1)).as("n_scored"),
        sum(abs(col("y") - col("l1"))).as("sae1"),
        sum(abs(col("y") - col("ls"))).as("saes"))
      .filter(col("n_scored") >= minDays)
      .select(col("symbol"), col("n_scored").cast("long").as("n_scored"),
        rd(col("sae1").cast("double") / col("n_scored").cast("double") / 100.0, 4)
          .as("mae_naive"),
        rd(col("saes").cast("double") / col("n_scored").cast("double") / 100.0, 4)
          .as("mae_seasonal"),
        rd(col("sae1").cast("double") /
          nullifZero(col("saes").cast("double")), 6).as("mase"))
  }

  /** Brown–Forsythe variance-homogeneity test across day-of-week
    * groups (Brown & Forsythe, JASA 1974): [[anovaDow]] asks "do
    * weekday MEAN returns differ"; this asks "do weekday
    * VOLATILITIES differ" — the Levene family with the MEDIAN center
    * (the robust variant that keeps its size under heavy tails,
    * which daily returns have): transform each return to its
    * absolute deviation from the group median, then run the
    * one-way-ANOVA F on the deviations.
    *
    * Exactness: the group median of scale-4 longs is (a+b)/2 — so
    * 2·median is an EXACT integer in both engines (the interpolated
    * double is exact for longs ≪ 2⁵²), and z = |2y − 2·med| is an
    * exact long in HALF scale-4 units. The SS decomposition is then
    * [[anovaDow]]'s machinery verbatim (exact HUGEINT/DECIMAL sums,
    * S²/n quantized once per group); the SS outputs divide by 4·10⁸
    * to return to return-pct² units, and F / eta² are scale-free.
    * NULL conventions follow the [[anovaDow]] r15 fix (zero SSW /
    * single group → NULL F).
    *
    * Scale shape: one 7-group rollup for the medians (a sort-based
    * exact median over day-grain rows), one broadcast join of the
    * 7-row median frame, one 7-group rollup, one 1-row reduction. */
  def brownForsythe(returns: DataFrame): DataFrame = {
    val y = returnsPanel(returns, "y")
      .select(dayofweek(col("trade_date")).cast("long").as("dow"), col("y"))
      .snapshot() // feeds the median rollup AND the deviation join
    val med = y.groupBy("dow")
      .agg((median(col("y")) * lit(2.0)).cast("long").as("med2"))
    val z = y.join(broadcast(med), "dow")
      .select(col("dow"), abs(lit(2L) * col("y") - col("med2")).as("z"))
    val g = z.groupBy("dow")
      .agg(count(lit(1)).as("ng"), sum(col("z")).as("sg"),
        sum(dec38(col("z")) * col("z")).as("qg"))
      .withColumn("ag", scaled((dec38(col("sg")) * dec38(col("sg"))).cast("double") /
        col("ng").cast("double"), 0))
    g.agg(sum(col("ng")).as("n"), count(lit(1)).as("k"),
        sum(col("sg")).as("s"), sum(col("qg")).as("q"), sum(col("ag")).as("a"))
      .withColumn("b", scaled((dec38(col("s")) * dec38(col("s"))).cast("double") /
        col("n").cast("double"), 0))
      .select(col("n").cast("long").as("n_days"),
        col("k").cast("long").as("k_groups"),
        rd((col("a") - col("b")).cast("double") / 4.0e8, 4).as("ss_between"),
        rd((col("q") - col("a")).cast("double") / 4.0e8, 4).as("ss_within"),
        rd((col("a") - col("b")).cast("double") /
          nullifZero((col("k") - lit(1)).cast("double")) /
          nullifZero((col("q") - col("a")).cast("double") /
            (col("n") - col("k")).cast("double")),
          4).as("f_stat"),
        rd((col("a") - col("b")).cast("double") /
          nullifZero((col("q") - col("b")).cast("double")), 6).as("eta_sq"))
  }

  /** Pettitt change-point test per symbol (Pettitt, "A non-parametric
    * approach to the change-point problem", Applied Statistics 1979):
    * finds the single most likely UNKNOWN shift point in a series'
    * distribution — where [[chowBreak]] tests a break at a KNOWN
    * date, Pettitt scans all of them rank-wise. The statistic is
    * U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i − x_j), computed in O(n log n) via
    * global ranks: with R_i = 2·rank_i + ties_i − 1 (twice the
    * average tie rank, an exact integer), U_t = Σ_{i≤t} R_i −
    * t·(n+1); K = max_{t<n} |U_t| and the change date is the
    * earliest argmax. The p-value uses the paper's approximation
    * 2·exp(−6K²/(n³+n²)) (capped at 1), and the 5% flag is
    * ALL-INTEGER: 6·10⁴·K² > crit4·(n³+n²) with crit4 =
    * ⌈ln(40)·10⁴⌉ = 36889 (ln 40 because 2e^{−x} < 0.05 ⟺
    * x > ln 40).
    *
    * Scale shape: one rank window + one tie-count window + one
    * cumulative-sum window, all symbol-partitioned over day-grain
    * rows, then one partial-aggregable symbol rollup. */
  def pettittTest(returns: DataFrame, minDays: Int = 60,
                  crit4: Long = 36889L): DataFrame = {
    val x = returnsPanel(returns, "x")
    val base = x
      .withColumn("r2", lit(2L) * rank().over(
          Window.partitionBy("symbol").orderBy("x")).cast("long") +
        count(lit(1)).over(Window.partitionBy("symbol", "x")) - lit(1L))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("symbol")))
      .withColumn("t", row_number().over(
        Window.partitionBy("symbol").orderBy("trade_date")).cast("long"))
    val u = base
      .withColumn("u", sum(col("r2")).over(
          Window.partitionBy("symbol").orderBy("trade_date")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) -
        col("t") * (col("n") + lit(1L)))
      .filter(col("t") < col("n")) // U_n = 0 by construction
      .withColumn("au", abs(col("u")))
      .withColumn("kmax", max(abs(col("u"))).over(Window.partitionBy("symbol")))
    val g = u.groupBy("symbol")
      .agg(max(col("n")).as("n"), max(col("au")).as("k"),
        min(when(col("au") === col("kmax"), col("trade_date"))).as("cd"))
      .filter(col("n") >= minDays)
    val nD = col("n").cast("double")
    g.select(col("symbol"), col("n").cast("long").as("n_days"),
      col("k").cast("long").as("k_stat"), col("cd").as("change_date"),
      rd(least(lit(1.0), lit(2.0) * exp(lit(-6.0) *
        col("k").cast("double") * col("k").cast("double") /
        (nD * nD * nD + nD * nD))), 6).as("p_approx"),
      (dec38(lit(60000L)) * dec38(col("k")) * col("k") >
        dec38(lit(crit4)) * (dec38(col("n")) * col("n") * col("n") +
          dec38(col("n")) * col("n"))).as("significant"))
  }

  /** Kupiec proportion-of-failures VaR backtest per symbol (Kupiec,
    * "Techniques for verifying the accuracy of risk measurement
    * models", Journal of Derivatives 1995): the regulatory-standard
    * check that a VaR model's violation RATE matches its confidence
    * level. The 5% VaR is estimated on the FIRST half of each
    * symbol's history (the [[varCvar]] order-statistic convention,
    * k = ⌊α·(n_train−1)⌋ + 1 on ascending scale-4 returns) and
    * backtested on the SECOND half: x violations (return strictly
    * below the threshold) in m days give the likelihood ratio
    * LR = −2[(m−x)·ln(1−α) + x·ln α − (m−x)·ln((m−x)/m) −
    * x·ln(x/m)] ~ χ²₁; LR > 3.8415 rejects the model at 5% (too
    * many OR too few violations — POF is two-sided in rate). The
    * x = 0 / x = m boundary terms take their 0·ln 0 = 0 limits.
    *
    * Exactness: counts and the threshold are exact integers;
    * ln(1−α)/ln α are Scala-computed literals shared with the mirror
    * (Double.toString round-trip); the two data-dependent ln terms
    * are fixed double trees (documented 1-ulp libm tolerance, far
    * below the rd quantum). Scale shape: two symbol windows sharing
    * one rank sort, a symbol-sized broadcast threshold frame, one
    * partial-aggregable rollup. */
  def kupiecPof(returns: DataFrame, alpha: Double = 0.05,
                minTest: Int = 30, chi2Crit: Double = 3.8415): DataFrame = {
    require(alpha > 0 && alpha < 1, "kupiecPof: alpha in (0,1)")
    val x0 = returnsPanel(returns, "y")
      .withColumn("t", row_number().over(
        Window.partitionBy("symbol").orderBy("trade_date")).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("symbol")))
      .snapshot() // feeds the training rank pass AND the test scan
    val tr = x0.filter(col("t") <= expr("n div 2"))
      .withColumn("ntr", expr("n div 2"))
      .withColumn("r", row_number().over(
        Window.partitionBy("symbol").orderBy(col("y"), col("t"))).cast("long"))
    val v = tr.groupBy("symbol").agg(max(col("ntr")).as("ntr"),
      min(when(col("r") ===
        floor(lit(alpha) * (col("ntr") - lit(1L)).cast("double")).cast("long") +
          lit(1L), col("y"))).as("vk"))
    val g = x0.filter(col("t") > expr("n div 2"))
      .join(broadcast(v), "symbol")
      .groupBy("symbol")
      .agg(max(col("ntr")).as("ntr"), max(col("vk")).as("vk"),
        count(lit(1)).as("m"),
        sum(when(col("y") < col("vk"), 1L).otherwise(0L)).as("x"))
      .filter(col("m") >= minTest)
    val (lnq, lnp) = (math.log(1 - alpha), math.log(alpha))
    val md = (col("m") - col("x")).cast("double")
    val xd = col("x").cast("double")
    val mm = col("m").cast("double")
    val lr = lit(-2.0) * (md * lit(lnq) + xd * lit(lnp) -
      when(col("m") - col("x") === 0, lit(0.0)).otherwise(md * log(md / mm)) -
      when(col("x") === 0, lit(0.0)).otherwise(xd * log(xd / mm)))
    g.select(col("symbol"),
      col("m").cast("long").as("n_test"),
      col("x").cast("long").as("n_violations"),
      rd(col("vk").cast("double") / 10000.0, 4).as("var_pct"),
      rd(xd / mm, 6).as("violation_rate"),
      rd(lr, 4).as("lr_pof"),
      (lr > lit(chi2Crit)).as("reject_model"))
  }

  /** Hill tail-index estimator over daily LOSSES per symbol (Hill,
    * "A simple general approach to inference about the tail of a
    * distribution", Annals of Statistics 1975): ξ̂ = (1/k)·Σ_{i≤k}
    * ln(x₍ᵢ₎ / x₍ₖ₊₁₎) over the k largest losses, α = 1/ξ̂ the
    * power-law tail exponent — the standard heavy-tail gauge behind
    * [[q_var_cvar]]'s empirical quantiles: α < 2 means infinite
    * variance, α < 4 means the CLT-based risk numbers understate tails.
    * Losses (−return where return < 0) at scale 4; zero-scaled losses
    * are excluded (ln 0 undefined — sub-half-bp moves carry no tail
    * information at this scale).
    *
    * Determinism: the order statistics are a row_number over the
    * total order (x DESC, trade_date) — ties broken identically in
    * both engines (the [[spearmanVsMarket]] convention); each ln
    * ratio is quantized to a scale-9 long so the sum is order-free.
    *
    * Scale shape: one symbol-partitioned rank window over the loss
    * subset (a fraction of day-grain rows), a symbol-sized threshold
    * frame broadcast back, one partial-aggregable rollup. */
  def hillTail(returns: DataFrame, kTop: Int = 20,
               minLosses: Int = 40): DataFrame = {
    require(kTop >= 1 && minLosses > kTop,
      "hillTail: need minLosses > kTop >= 1")
    val losses = returns.filter(col("daily_return_pct") < 0)
      .select(col("symbol"), col("trade_date"),
        scaled(-col("daily_return_pct"), 4).as("x"))
      .filter(col("x") > 0)
    val ranked = losses
      .withColumn("rn", row_number().over(
        Window.partitionBy("symbol")
          .orderBy(col("x").desc, col("trade_date"))).cast("long"))
      .withColumn("nl", count(lit(1)).over(Window.partitionBy("symbol")))
      .snapshot() // feeds the threshold frame AND the top-k rollup
    val thr = ranked.filter(col("rn") === (kTop + 1).toLong)
      .select(col("symbol"), col("x").as("xk"))
    ranked.filter(col("rn") <= kTop.toLong && col("nl") >= minLosses.toLong)
      .join(broadcast(thr), "symbol")
      .withColumn("l9",
        scaled(log(col("x").cast("double") / col("xk").cast("double")), 9))
      .groupBy("symbol")
      .agg(max(col("nl")).as("nl"), count(lit(1)).as("k"),
        sum(col("l9")).as("sl"))
      .select(col("symbol"), col("nl").cast("long").as("n_losses"),
        col("k").cast("long").as("k_top"),
        rd(col("sl").cast("double") / 1e9 /
          col("k").cast("double"), 6).as("xi_hill"),
        rd(col("k").cast("double") * 1e9 /
          nullifZero(col("sl").cast("double")), 6).as("alpha_tail"))
  }

  /** Online Elo rating per symbol against the equal-weight market
    * index (Elo, *The Rating of Chessplayers* 1978): each day is one
    * game vs the benchmark — win if the symbol's exact scale-4 return
    * beats the day's market mean ⌊Σy/n⌋ (the [[marketBeta]] index
    * convention), draw on equality — and the rating folds
    * R ← R + K·(S − E), E = 1/(1 + 10^((base−R)/400)) with a FIXED
    * base-rated opponent, in trade-date order from R₀ = base = 1500,
    * K = 16. The vs-benchmark form is the standard online-rating
    * shape that stays distributed: pairwise Elo is inherently
    * sequential ACROSS the whole S² game stream (every update feeds
    * every later pair), while vs-market folds are per-symbol
    * independent — [[Cohorts.bradleyTerry]] covers the pairwise
    * preference structure in its order-free MM form.
    *
    * Exactness: outcomes 2S ∈ {0,1,2} are exact integers; the rating
    * lives as a scale-6 long and each update adds
    * ⌊K·(S−E)·10⁶⌋ — pow/division inside E are IEEE-evaluated on
    * identical operands in both engines (JVM Math.pow and libm pow
    * agreed bit-for-bit on a 2000-sample probe of this expression;
    * the floor quantization makes any residual ulp flip a ~1e-10/step
    * event rather than a hash break). Scale shape: the index is a
    * days-dimension partial agg broadcast back; the fold buffers one
    * outcome byte per calendar day per symbol (the [[varCvar]]
    * collect discipline), no windows. */
  def eloVsMarket(returns: DataFrame, k: Int = 16,
                  baseRating: Int = 1500, minDays: Int = 30): DataFrame = {
    val r = returnsPanel(returns, "y").snapshot() // feeds the index build AND the game join
    val base6 = baseRating.toLong * 1000000L
    val step =
      s"""(acc, s) -> acc + CAST(floor($k.0 * (s / 2.0 -
         |  1.0 / (1.0 + pow(10.0, ($base6 - acc) / 4.0e8))) * 1.0e6) AS BIGINT)"""
        .stripMargin
    r.join(broadcast(marketIndex(r)), "trade_date")
      .select(col("symbol"), struct(col("trade_date"),
        when(col("y") > col("x"), 2L).when(col("y") === col("x"), 1L)
          .otherwise(0L).as("s")).as("ts"))
      .groupBy("symbol")
      .agg(sort_array(collect_list(col("ts"))).as("tss"))
      .select(col("symbol"),
        size(col("tss")).cast("long").as("n_days"),
        expr("transform(tss, t -> t.s)").as("ss"))
      .filter(col("n_days") >= minDays)
      .withColumn("r6", expr(s"aggregate(ss, ${base6}L, $step)"))
      .select(col("symbol"), col("n_days"),
        expr("aggregate(ss, 0L, (a, s) -> a + CASE WHEN s = 2 THEN 1 ELSE 0 END)")
          .as("wins"),
        expr("aggregate(ss, 0L, (a, s) -> a + CASE WHEN s = 1 THEN 1 ELSE 0 END)")
          .as("draws"),
        rd(col("r6").cast("double") / 1.0e6, 2).as("elo_rating"))
  }

  /** Brier score + skill vs climatology per symbol (Brier, "Verif-
    * ication of forecasts expressed in terms of probability", Monthly
    * Weather Review 1950): the trailing-`window`-day positive-return
    * rate forecasts P(tomorrow's return > 0), scored against the
    * realized sign. The probability forecast is the exact rational
    * c/window, so the score is PURE INTEGER arithmetic:
    * BS = Σ(c − w·o)² / (w²·N), and the climatology reference
    * collapses in closed form to p̂(1−p̂) = P(N−P)/N², giving
    * BSS = 1 − BS/BS_ref = 1 − Σ(c−w·o)²·N / (w²·P·(N−P)) as exact
    * integer ratios with ONE final double division each —
    * [[Profiling.calibrationBins]] is the rank-diagram companion;
    * this is the proper-score companion with a REAL probability
    * forecast.
    *
    * Scale shape: one symbol-ordered window (the shared [[bySymbol]]
    * sort) carries both the trailing count and the row index; one
    * partial-aggregable symbol rollup after it. Numerators stay in
    * long range while w²·N < 2⁶³ (w=20 ⇒ N < 2e16 days/symbol). */
  def brierSkill(returns: DataFrame, window: Int = 20,
                 minScored: Int = 30): DataFrame = {
    val w = window
    val o = when(col("y") > 0, 1L).otherwise(0L)
    val scored = returnsPanel(returns, "y")
      .withColumn("o", o)
      .withColumn("t", row_number().over(bySymbol).cast("long"))
      .withColumn("c", sum(col("o")).over(bySymbol.rowsBetween(-w, -1)))
      .filter(col("t") > w.toLong)
    val g = scored.groupBy("symbol")
      .agg(count(lit(1)).as("n"), sum(col("o")).as("p"),
        sum((col("c") - lit(w.toLong) * col("o")) *
          (col("c") - lit(w.toLong) * col("o"))).as("s1"))
      .filter(col("n") >= minScored.toLong)
    val nD = col("n").cast("double")
    g.select(col("symbol"), col("n").cast("long").as("n_scored"),
      rd(col("p").cast("double") / nD, 6).as("base_rate"),
      rd(col("s1").cast("double") / (lit((w * w).toDouble) * nD), 6).as("brier"),
      rd(col("p").cast("double") * (col("n") - col("p")).cast("double") /
        (nD * nD), 6).as("brier_ref"),
      rd(lit(1.0) - col("s1").cast("double") * nD /
        nullifZero(lit((w * w).toDouble) * col("p").cast("double") *
          (col("n") - col("p")).cast("double")), 6).as("bss"))
  }

  /** Conditional Drawdown-at-Risk per symbol (Chekhlov, Uryasev &
    * Zabarankin, "Drawdown measure in portfolio optimization", IJTAF
    * 2005): the CVaR idea applied to the DRAWDOWN path —
    * DaR_α is the k-th worst daily drawdown (k = ⌊α·(n−1)⌋ + 1, the
    * [[varCvar]] order-statistic convention) and CDaR_α the mean of
    * the k worst — the allocator's "how bad do the bad underwater
    * days get" number that [[maxDrawdown]]'s single minimum and
    * [[drawdownDuration]]'s clock both miss.
    *
    * Exactness: closes are scale-2 longs, so the running peak is
    * exact; each day's drawdown PERCENT pays one division and is
    * immediately quantized to a scale-6 long (the [[jsDivergence]]
    * device), so the top-k mean is an exact integer sum with one
    * final division. Scale shape: the running peak shares the
    * [[bySymbol]] sort; the top-k pick is one rank window over the
    * same partition; one partial-aggregable rollup. */
  def cdar(returns: DataFrame, alphaPct: Int = 5, minDays: Int = 60): DataFrame = {
    require(alphaPct > 0 && alphaPct < 100, "cdar: alphaPct in (0,100)")
    val base = returns
      .select(col("symbol"), col("trade_date"), scaled(col("close_price"), 2).as("cp"))
      .withColumn("pk", max(col("cp")).over(
        bySymbol.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("dd6", scaled((col("pk") - col("cp")).cast("double") /
        nullifZero(col("pk").cast("double")) * 100.0, 6))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("symbol")))
      .withColumn("rn", row_number().over(Window.partitionBy("symbol")
        .orderBy(col("dd6").desc, col("trade_date"))).cast("long"))
      .filter(col("n") >= minDays.toLong &&
        col("rn") <= expr(s"($alphaPct * (n - 1)) div 100") + lit(1L))
    base.groupBy("symbol")
      .agg(max(col("n")).as("n"), count(lit(1)).as("k"),
        min(col("dd6")).as("dar6"), sum(col("dd6")).as("s6"))
      .select(col("symbol"), col("n").cast("long").as("n_days"),
        col("k").cast("long").as("k_worst"),
        rd(col("dar6").cast("double") / 1.0e6, 4).as("dar_pct"),
        rd(col("s6").cast("double") / col("k").cast("double") / 1.0e6, 4)
          .as("cdar_pct"))
  }

  /** 1-D energy distance between each symbol's history halves
    * (Székely & Rizzo, "Energy statistics", J. Stat. Plann. Inference
    * 2013): E = 2·E|X−Y| − E|X−X′| − E|Y−Y′| — zero iff the two
    * distributions coincide, sensitive to ANY difference (location,
    * scale, shape), the metric companion to [[mannWhitneySplit]]'s
    * rank shift and [[ksTwoSample]]'s sup-gap. The O(n²) pairwise
    * sums collapse to ONE sorted pass via the order-statistic
    * identity Σ_{i<j}(z_(j) − z_(i)) = Σ_j (2j − m − 1)·z_(j):
    * the pooled pair sum and the two within-half pair sums come from
    * two rank windows sharing the symbol partition, and the cross
    * term is their exact difference.
    *
    * Exactness: returns are scale-4 longs, ranks exact (tie order is
    * irrelevant — tied pairs contribute zero), every pair sum an
    * exact DECIMAL(38,0) ([[dimsonBeta]] rule: coefficient×value
    * products reach y_max·n²); the E tree is fixed doubles. Scale
    * shape: two symbol-partitioned windows + one rollup — D·S grain,
    * NO pair fan-out despite the O(n²) semantics. */
  def energyDistanceSplit(returns: DataFrame, minDays: Int = 60): DataFrame = {
    val r = returnsPanel(returns, "y")
      .withColumn("t", row_number().over(bySymbol).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("symbol")))
      .withColumn("g", when(col("t") * 2 <= col("n"), lit(1L)).otherwise(lit(2L)))
      .withColumn("j", row_number().over(Window.partitionBy("symbol")
        .orderBy(col("y"), col("t"))).cast("long"))
      .withColumn("jg", row_number().over(Window.partitionBy("symbol", "g")
        .orderBy(col("y"), col("t"))).cast("long"))
      .withColumn("mg", count(lit(1)).over(Window.partitionBy("symbol", "g")))
    val gr = r.groupBy("symbol").agg(
      max(col("n")).as("n"),
      sum(when(col("g") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(dec38(lit(2L) * col("j") - col("n") - lit(1L)) * col("y")).as("pooled"),
      sum(when(col("g") === 1L,
        dec38(lit(2L) * col("jg") - col("mg") - lit(1L)) * col("y"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("w1"),
      sum(when(col("g") === 2L,
        dec38(lit(2L) * col("jg") - col("mg") - lit(1L)) * col("y"))
        .otherwise(lit(0L).cast("decimal(38,0)"))).as("w2"))
      .filter(col("n") >= minDays.toLong)
      .withColumn("n2", col("n") - col("n1"))
      .withColumn("cross", col("pooled") - col("w1") - col("w2"))
    val aT = col("cross").cast("double") / (col("n1") * col("n2")).cast("double")
    val bT = lit(2.0) * col("w1").cast("double") /
      (col("n1") * col("n1")).cast("double")
    val cT = lit(2.0) * col("w2").cast("double") /
      (col("n2") * col("n2")).cast("double")
    val e = lit(2.0) * aT - bT - cT
    gr.select(col("symbol"),
      col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
      rd(e / 1.0e4, 6).as("e_dist_pct"),
      rd((col("n1") * col("n2")).cast("double") / col("n").cast("double") *
        e / 1.0e4, 4).as("t_energy"))
  }

  /** Empirical tail-dependence coefficients of each symbol against
    * the equal-weight market (Sibuya 1960 introduced the coefficient;
    * Joe, *Multivariate Models and Dependence Concepts* 1997, ch. 2 is
    * the standard treatment): λ_U = P(Y > q_Y^{95} | M > q_M^{95})
    * and λ_L with the 5% lower tails — "when the market has a
    * top-decile day, how often does this symbol too", the
    * crash-co-movement number a correlation ([[marketBeta]],
    * [[pairCorrelation]]) structurally understates because Gaussian
    * dependence has λ = 0.
    *
    * Exactness: both thresholds are exact order statistics
    * (k = (p·(n−1)) div 100 + 1 on ascending scale-4 values, the
    * [[kupiecPof]]/[[varCvar]] integer-div convention — market over
    * the days dimension, per-symbol over its history); the
    * conditional probabilities are exact count ratios with one
    * division. Scale shape: one symbol rank window (shared sort),
    * one days-dimension rank, two broadcast threshold joins, one
    * partial-aggregable symbol rollup. */
  def tailDependence(returns: DataFrame, tailPct: Int = 5,
                     minDays: Int = 60): DataFrame = {
    require(tailPct > 0 && tailPct < 50, "tailDependence: tailPct in (0,50)")
    val p = tailPct
    // feeds the index build, both rank passes, AND the probe
    val r = returnsPanel(returns, "y").snapshot()
    val mkt = marketIndex(r)
    val mr = mkt
      .withColumn("rx", row_number().over(
        Window.orderBy(col("x"), col("trade_date"))).cast("long"))
      .withColumn("nd", count(lit(1)).over(Window.partitionBy()))
    val mThr = mr.agg(
      min(when(col("rx") === expr(s"($p * (nd - 1)) div 100") + lit(1L),
        col("x"))).as("lx"),
      min(when(col("rx") === expr(s"((100 - $p) * (nd - 1)) div 100") + lit(1L),
        col("x"))).as("ux"))
    val sr = r
      .withColumn("ry", row_number().over(Window.partitionBy("symbol")
        .orderBy(col("y"), col("trade_date"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("symbol")))
    val sThr = sr.groupBy("symbol").agg(max(col("n")).as("n"),
        min(when(col("ry") === expr(s"($p * (n - 1)) div 100") + lit(1L),
          col("y"))).as("ly"),
        min(when(col("ry") === expr(s"((100 - $p) * (n - 1)) div 100") + lit(1L),
          col("y"))).as("uy"))
      .filter(col("n") >= minDays.toLong)
    r.join(broadcast(mkt), "trade_date")
      .join(broadcast(sThr), "symbol")
      .crossJoin(broadcast(mThr))
      .groupBy("symbol")
      .agg(max(col("n")).as("n"),
        sum(when(col("x") > col("ux"), 1L).otherwise(0L)).as("mu"),
        sum(when(col("x") > col("ux") && col("y") > col("uy"), 1L)
          .otherwise(0L)).as("ju"),
        sum(when(col("x") < col("lx"), 1L).otherwise(0L)).as("ml"),
        sum(when(col("x") < col("lx") && col("y") < col("ly"), 1L)
          .otherwise(0L)).as("jl"))
      .select(col("symbol"), col("n").cast("long").as("n_days"),
        col("mu").cast("long").as("n_mkt_up"),
        rd(col("ju").cast("double") / nullifZero(col("mu").cast("double")), 4)
          .as("lambda_upper"),
        col("ml").cast("long").as("n_mkt_down"),
        rd(col("jl").cast("double") / nullifZero(col("ml").cast("double")), 4)
          .as("lambda_lower"))
  }

  /** Pinball (quantile) loss evaluation per symbol across the
    * standard τ ladder {0.05, 0.25, 0.5, 0.75, 0.95} (Koenker &
    * Bassett, "Regression quantiles", Econometrica 1978): the
    * τ-quantile forecast is fit on each symbol's FIRST half (the
    * [[kupiecPof]] train/test convention, order statistic
    * k = (t·(n_train−1)) div 20 + 1 on ascending scale-4 returns
    * with τ = t/20) and scored on the SECOND half with
    * L_τ(ŷ,y) = τ·(y−ŷ)⁺ + (1−τ)·(ŷ−y)⁺ — the proper scoring rule
    * for quantiles, turning [[kupiecPof]]'s hit-rate view into a
    * magnitude-sensitive one.
    *
    * Exactness: with τ = t/20 every loss is the exact integer
    * 20·L = t·(y−ŷ)⁺ + (20−t)·(ŷ−y)⁺ over scale-4 longs; the mean
    * divides once at the end. Scale shape: one train-half rank
    * window (shared sort), a symbol×5 threshold frame broadcast
    * back, one partial-aggregable (symbol, τ) rollup — the τ ladder
    * fans the test scan out 5×, still day-grain-linear. */
  def pinballEval(returns: DataFrame, minTest: Int = 30): DataFrame = {
    val taus = Seq(1, 5, 10, 15, 19) // τ·20
    val x0 = returnsPanel(returns, "y")
      .withColumn("t", row_number().over(bySymbol).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("symbol")))
      .snapshot() // feeds the training rank pass AND the test scan
    val tr = x0.filter(col("t") <= expr("n div 2"))
      .withColumn("ntr", expr("n div 2"))
      .withColumn("r", row_number().over(
        Window.partitionBy("symbol").orderBy(col("y"), col("t"))).cast("long"))
    val thr = tr.groupBy("symbol").agg(max(col("ntr")).as("ntr"),
        taus.map(t => min(when(col("r") ===
          expr(s"($t * (ntr - 1)) div 20") + lit(1L), col("y"))).as(s"vk$t")): _*)
      .select(col("symbol"), explode(array(taus.map(t =>
        struct(lit(t.toLong).as("t20"), col(s"vk$t").as("vk"))): _*)).as("tv"))
      .select(col("symbol"), col("tv.t20").as("t20"), col("tv.vk").as("vk"))
    x0.filter(col("t") > expr("n div 2"))
      .join(broadcast(thr), "symbol")
      .groupBy("symbol", "t20")
      .agg(count(lit(1)).as("m"), max(col("vk")).as("vk"),
        sum(greatest(col("y") - col("vk"), lit(0L))).as("up"),
        sum(greatest(col("vk") - col("y"), lit(0L))).as("dn"))
      .filter(col("m") >= minTest.toLong)
      .select(col("symbol"),
        rd(col("t20").cast("double") / 20.0, 2).as("tau"),
        col("m").cast("long").as("n_test"),
        rd(col("vk").cast("double") / 10000.0, 4).as("q_forecast_pct"),
        rd((col("t20") * col("up") + (lit(20L) - col("t20")) * col("dn"))
          .cast("double") / (lit(20.0) * col("m").cast("double") * 1.0e4), 6)
          .as("pinball_pct"))
  }
}
