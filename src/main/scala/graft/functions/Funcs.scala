package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared scalar helpers. Everything here is composed from built-in
  * (codegen'd) Catalyst expressions — no UDFs — so whole-stage codegen
  * spans stay wide and the same logic is expressible 1:1 in the DuckDB
  * oracle SQL for correctness checks.
  */
object Funcs {

  /** Snowflake-style NULLIF(x, 0) divide-by-zero guard
    * (reference: dbt/models/intermediate/int_daily_returns.sql:38). */
  def nullifZero(c: Column): Column = nullif(c, lit(0))

  /** dbt/macros/safe_divide.sql:1-7 — `CASE WHEN d = 0 OR d IS NULL
    * THEN default ELSE n / d END`. (Declared but never invoked by the
    * reference models; provided as the same utility.) */
  def safeDivide(n: Column, d: Column, default: Column): Column =
    when(d === 0 || d.isNull, default).otherwise(n / d)

  /** Deterministic 60-bit non-negative hash of a string, identical in
    * Spark and DuckDB: parse the first 15 hex digits of md5. Used as
    * the hash family for MinHash / SimHash / fingerprinting so the
    * DuckDB oracle (`('0x' || substr(md5(s), 1, 15))::BIGINT`) computes
    * bit-identical values. md5 is overkill cryptographically but it is
    * the only hash both engines share; it is still cheap relative to
    * shuffle cost at scale.
    */
  def hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** Canonical text normalization for dedup/tokenization keys: lower,
    * strip everything outside [a-z0-9 ] to a space, collapse runs of
    * spaces, trim. Pure codegen'd string expressions — a narrow map at
    * corpus-scan speed; run it BEFORE hashing/shingling so trivially
    * different encodings of the same content collide. Mirrored in
    * DuckDB with the 'g' regex flag (Spark's regexp_replace is global
    * by default). */
  def normalizeText(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", " "), " +", " "))

  /** Distinct word n-gram shingles of a whitespace-tokenized text.
    * Pure built-in array expressions (split/sequence/transform/slice),
    * evaluated once per row — no explode/shuffle.
    */
  def wordShingles(text: Column, n: Int): Column = {
    val words = split(text, " ")
    array_distinct(
      when(size(words) >= n,
        transform(sequence(lit(1), size(words) - lit(n - 1)),
          i => concat_ws(" ", slice(words, i, lit(n)))))
        .otherwise(array()))
  }

  /** Deterministic decimal rounding: floor(x * 10^s + 0.5) / 10^s.
    *
    * The reference dbt layer rounds every published metric
    * (int_daily_returns.sql:35-42 etc.). We deliberately do NOT use the
    * engines' native `round`: Spark rounds the shortest decimal
    * representation via BigDecimal HALF_UP while DuckDB scales and
    * truncates in floating point, and the two disagree on exact
    * halfway values (x.xxxx5) — which fixed-decimal market data hits
    * systematically. This floor-based form is a pure IEEE-double
    * expression tree, so any engine evaluating it on the same input
    * double produces the same bits. (Negative exact halves round toward
    * +inf instead of away from zero — an accepted, documented deviation.)
    */
  def rd(c: Column, scale: Int): Column = {
    val p = math.pow(10, scale)
    floor(c * p + 0.5) / p
  }

  def r4(c: Column): Column = rd(c, 4)
  def r2(c: Column): Column = rd(c, 2)
  def r1(c: Column): Column = rd(c, 1)
  // cast: Spark floor → LONG, DuckDB floor → DOUBLE; align output types
  def r0(c: Column): Column = floor(c + 0.5).cast("double")

  /** Fixed-point view of a (near-)fixed-decimal double: the exact
    * integer of x * 10^s. Aggregating these longs instead of the raw
    * doubles makes sums/averages EXACT (order-independent), which is
    * what keeps rounded aggregate outputs bit-identical across engines
    * — and, at 100 TB, integer partial aggregates are also cheaper to
    * shuffle and codegen than FP with compensation tricks.
    * RANGE CONTRACT: exact only while |x|·10^s fits a long (~9.2e18);
    * for larger magnitudes use [[money]] (DECIMAL(38,s)) at the edge.
    */
  def scaled(c: Column, scale: Int): Column =
    floor(c * math.pow(10, scale) + 0.5).cast("long")

  /** Exact average of fixed-point longs, returned in original units and
    * rounded to `outScale` decimals: rd(sum/count/10^s). The division
    * sequence is a fixed scalar expression tree → deterministic. */
  def scaledAvg(scaledCol: Column, scale: Int, outScale: Int): Column =
    rd(sum(scaledCol) / count(scaledCol) / math.pow(10, scale), outScale)

  /** `c` as DECIMAL(38, 0): the exact integer type fixed-point
    * products and sums are widened to before they can overflow a long. */
  def dec38(c: Column): Column = c.cast("decimal(38,0)")

  /** Typed DECIMAL(38, s) money view — the warehouse-DDL-compatible
    * surface for published money columns (the reference's Snowflake
    * tables type prices FLOAT, load_to_snowflake.py:27-38; DECIMAL(38)
    * is the strict-typing hardening on top). Aggregating DECIMAL is
    * exact like [[scaled]] longs but shuffles 16-byte values and
    * aggregates ~2-5× slower — use it at published table EDGES, keep
    * [[scaled]] longs in internal hot paths (MoneySpec proves the two
    * paths agree exactly). */
  def money(c: Column, scale: Int = 4): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(38, scale))
}
