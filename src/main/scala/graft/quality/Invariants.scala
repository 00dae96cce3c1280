package graft.quality

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Runtime data-quality invariants — the reference's dbt test layer as
  * reusable in-pipeline checks (the reference runs `dbt test` against
  * every staging and mart model on every DAG run:
  * dbt_transformation_dag.py:96-108).
  *
  * Generic tests mirror dbt/models/marts/schema.yml:14-160
  * (not_null / unique / accepted_values / range-between with warn or
  * error severity); singular tests mirror dbt/tests/
  * assert_high_not_below_low.sql, assert_no_future_trades.sql and
  * assert_stream_window_integrity.sql.
  *
  * Scale design: every row-level check is a Column predicate, and
  * [[audit]] folds ALL of them into ONE aggregate over the table — a
  * single scan with partial aggregation, never a scan per check (dbt
  * issues one query per test; at 100 TB that difference is the whole
  * cost). `unique` is inherently not row-local (needs a shuffle on the
  * key), so it stays a separate grouped check.
  */
object Invariants {

  sealed abstract class Severity(val label: String)
  case object Warn extends Severity("warn")
  case object Error extends Severity("error")

  /** A named row-level invariant: `holds` must be true on every row.
    * Null-tolerant by convention — each factory guards with isNull so
    * a null value only fails `notNull`, exactly like dbt's generics. */
  final case class RowCheck(name: String, holds: Column, severity: Severity = Error)

  /** One result row per check after running against a table. */
  final case class CheckResult(name: String, severity: String, violations: Long)

  // ── generic tests (dbt schema.yml) ────────────────────────────────

  def notNull(cols: String*): Seq[RowCheck] =
    cols.map(c => RowCheck(s"not_null_$c", col(c).isNotNull))

  def acceptedValues(c: String, values: Seq[String]): RowCheck =
    RowCheck(s"accepted_values_$c", col(c).isNull || col(c).isin(values: _*))

  def between(c: String, min: Double, max: Double,
              severity: Severity = Error): RowCheck =
    RowCheck(s"between_$c", col(c).isNull || (col(c) >= min && col(c) <= max), severity)

  /** Singular test: named ad-hoc predicate that must hold per row. */
  def expression(name: String, holds: Column, severity: Severity = Error): RowCheck =
    RowCheck(name, holds, severity)

  // ── execution ─────────────────────────────────────────────────────

  /** Single-pass audit: one row with `row_count` plus the violation
    * count of every check (column name = check name). One scan, one
    * partial-aggregable plan, regardless of how many checks run. */
  def audit(df: DataFrame, checks: Seq[RowCheck]): DataFrame = {
    require(checks.nonEmpty, "no checks given")
    val counters = checks.map(c =>
      sum(when(coalesce(c.holds, lit(false)), 0L).otherwise(1L)).as(c.name))
    df.agg(count(lit(1)).as("row_count"), counters: _*)
  }

  /** The violating rows of one check — the debugging / quarantine path
    * (dbt's `--store-failures`). Filter pushes to the scan. */
  def violations(df: DataFrame, check: RowCheck): DataFrame =
    df.filter(coalesce(check.holds, lit(false)) === false)

  /** dbt `unique` on a (possibly composite) key: keys with >1 rows. */
  def duplicateKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Run row checks (one scan) + unique checks (one shuffle each) and
    * return every result. Nothing is thrown here — see [[enforce]]. */
  def run(df: DataFrame, checks: Seq[RowCheck],
          uniqueKeys: Seq[Seq[String]] = Nil): Seq[CheckResult] = {
    val row = audit(df, checks).collect().head
    val rowResults = checks.map(c =>
      CheckResult(c.name, c.severity.label, row.getAs[Long](c.name)))
    val uniqResults = uniqueKeys.map(ks =>
      CheckResult(s"unique_${ks.mkString("_")}", Error.label,
        duplicateKeys(df, ks).count()))
    rowResults ++ uniqResults
  }

  /** The dbt-test contract: log warn-severity violations, THROW if any
    * error-severity check has violations (fails the pipeline run the
    * way a failed `dbt test` fails the DAG). Returns results so
    * callers can publish them. */
  def enforce(df: DataFrame, checks: Seq[RowCheck],
              uniqueKeys: Seq[Seq[String]] = Nil): Seq[CheckResult] = {
    val results = run(df, checks, uniqueKeys)
    results.filter(r => r.violations > 0 && r.severity == Warn.label)
      .foreach(r => println(s"[quality] WARN ${r.name}: ${r.violations} violations"))
    val failed = results.filter(r => r.violations > 0 && r.severity == Error.label)
    if (failed.nonEmpty)
      throw new IllegalStateException(
        "data-quality errors: " + failed.map(r => s"${r.name}=${r.violations}").mkString(", "))
    results
  }

  // ── the reference's concrete suites ───────────────────────────────

  /** dbt/models/marts/schema.yml:14-96 (mart_stock_performance). */
  def martStockPerformanceChecks: Seq[RowCheck] =
    notNull("symbol", "trade_date", "close_price") ++ Seq(
      between("close_price", 0.01, 1000000),
      between("daily_return_pct", -100, 10000, Warn),
      acceptedValues("ma_signal_5_20", Seq("GOLDEN_CROSS", "DEATH_CROSS", "NEUTRAL")),
      acceptedValues("ma_signal_10_50", Seq("GOLDEN_CROSS", "DEATH_CROSS", "NEUTRAL")),
      between("rsi_14", 0, 100, Warn),
      acceptedValues("rsi_signal", Seq("OVERBOUGHT", "OVERSOLD", "NEUTRAL")),
      between("pct_of_52w_range", 0, 100, Warn))

  /** dbt/models/marts/schema.yml:132-160 (mart_daily_summary);
    * `trade_date` uniqueness goes through `uniqueKeys`. */
  def martDailySummaryChecks: Seq[RowCheck] =
    notNull("trade_date", "symbols_tracked")

  /** dbt/tests/assert_high_not_below_low.sql. */
  def highNotBelowLow: RowCheck =
    expression("high_not_below_low",
      col("high_price").isNull || col("low_price").isNull ||
        col("high_price") >= col("low_price"))

  /** dbt/tests/assert_no_future_trades.sql — `now` injected, per the
    * repo-wide determinism policy for time-relative logic. */
  def noFutureTrades(now: Column): RowCheck =
    expression("no_future_trades",
      col("trade_date").isNull || col("trade_date") <= now)

  /** dbt/tests/assert_stream_window_integrity.sql. Null-tolerant like
    * the other factories (and like dbt's singular test, whose WHERE
    * clause never returns NULL-predicate rows): nullability itself is
    * `notNull`'s job, not this check's. */
  def streamWindowIntegrity: RowCheck =
    expression("stream_window_integrity",
      col("window_end_at").isNull || col("window_start_at").isNull ||
        col("window_duration_minutes").isNull ||
        (col("window_end_at") > col("window_start_at") &&
          col("window_duration_minutes") > 0))
}
