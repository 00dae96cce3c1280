package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Readers for the reference's raw zone (SURVEY §2.1).
  *
  * Hive-style partition paths (`raw/historical/year=/month=/day=/`)
  * are discovered by Spark's file index, so date-range predicates
  * prune whole directories before any byte is read — at 100 TB that
  * partition pruning, plus the explicit schema (no inference scan),
  * is the difference between touching one day and the whole lake.
  */
object RawSources {

  /** S1 — raw historical bars: CSV, explicit schema, header. */
  def rawDailyBars(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.rawDailyBar).option("header", "true").csv(path)

  /** S9 — seed dimension CSV (header, tiny ⇒ broadcast at use site). */
  def tickerDim(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.tickerDim).option("header", "true").csv(path)

  /** S4 — serialize to the Kafka wire shape (key = symbol, value =
    * JSON of all fields), mirroring batch_data_producer.py:54-63. */
  def toKafkaJson(df: DataFrame, keyCol: String): DataFrame =
    df.select(col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.map(col): _*)).as("value"))
}
