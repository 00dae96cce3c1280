package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot aggregation keys: two-stage salted
  * aggregation. Stage 1 groups by (key, salt) so a hot key's rows
  * spread over `buckets` reducers; stage 2 merges the partials —
  * `buckets` rows per key, trivially cheap.
  *
  * AQE's skew-join handling covers joins; hot GROUP BY keys are still
  * on the user (partial aggregation helps only when upstream
  * partitions already contain the hot key's rows — after an exchange
  * on other columns it can't). Algebraic aggregates (sum/count/min/
  * max) compose exactly; avg = salted sum / salted count.
  */
object Skew {

  /** Σ value per key, skew-safe. `value` must be an algebraic
    * (re-aggregable) column, e.g. a Funcs.scaled long. */
  def saltedSum(df: DataFrame, keys: Seq[String], value: Column,
                buckets: Int = 16): DataFrame = {
    val salt = pmod(hash(keys.map(col) :+ monotonically_increasing_id(): _*), lit(buckets))
    df.withColumn("__salt", salt)
      .groupBy((keys.map(col) :+ col("__salt")): _*)
      .agg(sum(value).as("__partial"), count(lit(1)).as("__pn"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__partial")).as("sum_value"), sum(col("__pn")).as("count_rows"))
  }

  /** Skew-safe equi join: replicate every `dim` row across `buckets`
    * salt values and scatter each fact row to one of them, so a hot
    * join key's fact rows spread over `buckets` reducers instead of
    * one. The fact salt can be anything — the replicated dim matches
    * every value — so the join result is exactly the plain equi join,
    * independent of the salt expression.
    *
    * Cost: dim travels ×buckets. Use when the dim is too big to
    * broadcast AND AQE's OptimizeSkewedJoin can't help (it splits
    * oversized sort-merge partitions, but a single hot KEY is one
    * unsplittable map-output block once it exceeds the split
    * granularity; salting fixes the key itself).
    */
  def saltedJoin(facts: DataFrame, dim: DataFrame, key: String,
                 buckets: Int = 16): DataFrame = {
    val salted = dim.withColumn("__salt",
      explode(array((0 until buckets).map(i => lit(i)): _*)))
    facts
      .withColumn("__salt", pmod(hash(col(key), monotonically_increasing_id()), lit(buckets)))
      .join(salted, Seq(key, "__salt"))
      .drop("__salt")
  }
}
