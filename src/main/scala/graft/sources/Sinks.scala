package graft.sources

import org.apache.spark.sql.DataFrame

/** Writers for the processed zone (SURVEY §2.1 S2/S3 + §4 layout).
  *
  * The reference partitions processed parquet by symbol
  * (spark_batch_processor.py:57) and declares Snowflake `cluster_by`
  * on its marts (mart_stock_performance.sql:5). The Spark translation:
  * partition directories give coarse pruning; `sortWithinPartitions`
  * gives parquet row-group min/max pruning inside each partition —
  * together they are the cluster-key layout. At 100 TB, partition by a
  * LOW-cardinality stable key (date, not symbol, when symbols are
  * millions) and repartition first so each partition writes one file
  * instead of #tasks small files.
  */
object Sinks {

  /** S2 — overwrite, partitioned (batch lane). */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String,
                       sortCols: Seq[String] = Nil): Unit = {
    val laid = df.repartition(org.apache.spark.sql.functions.col(partitionCol))
    val sorted = if (sortCols.nonEmpty)
      laid.sortWithinPartitions(sortCols.head, sortCols.tail: _*) else laid
    sorted.write.mode("overwrite").partitionBy(partitionCol).parquet(path)
  }

  /** Bucketed catalog table: pre-shuffles data into `numBuckets` by
    * `bucketCol` at write time, so joins/aggregations between tables
    * bucketed the same way need NO exchange at read time — the
    * co-located-join layout for fact↔fact joins too big to broadcast
    * (the 100 TB answer when both sides are huge and the join is
    * recurring). Requires `spark.sql.sources.bucketing.enabled` (on by
    * default) and equal bucket counts on both sides.
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
                    numBuckets: Int, sortCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCol)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** S8 — warehouse bootstrap: CREATE TABLE IF NOT EXISTS with an
    * explicit schema (the reference's fixed DDL at
    * load_to_snowflake.py:27-38), as a catalog table backed by parquet.
    * Idempotent; S7-style appends then go through `insertInto`/
    * `saveAsTable(append)`. */
  def ensureTable(spark: org.apache.spark.sql.SparkSession, name: String,
                  schema: org.apache.spark.sql.types.StructType): Unit = {
    val cols = schema.fields
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $name ($cols) USING parquet")
  }
}
