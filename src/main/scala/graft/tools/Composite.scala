package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Composite-input scale amplification: a K-fold union of a table
  * whose KEY COLUMNS are shifted per copy, so entity cardinalities
  * grow with volume (K disjoint "worlds", no accidental key
  * collisions) — the in-engine answer to "the read-only testdata caps
  * at sf0.1": a ~10× sf0.1 input materialized from sf0.1 itself.
  *
  * Two directions matter for the S²-family operators (work model
  * D·S² over the day×symbol panel):
  *   - entity-shift (symbols/nodes): S → K·S. For an ALL-PAIRS
  *     operator the candidate/output space necessarily grows K² — the
  *     scalable property to verify is time LINEAR IN THE PAIR SPACE
  *     (t ≲ K²·t₀), not in rows; sub-linear would be impossible
  *     without changing the operator's semantics.
  *   - time-shift (dates): D → K·D with S fixed. Work D·S² is linear
  *     in rows here, so the ordinary 1.5× per-input-growth bar
  *     applies.
  * Graph families get K disjoint copies of the graph: |V| and |E|
  * both ×K, and every implemented algorithm (oriented wedge counting,
  * bounded-iteration PageRank, synchronous LPA) is linear in |E| —
  * the entity direction IS the linear direction for them. */
object Composite {

  /** K-fold union of `df` with each copy's `shiftKeys` columns offset
    * by copy·(max−min+1) of that column (computed in ONE aggregate
    * pass), and each `shiftDays` timestamp column offset by
    * copy·`dayStep` days. Copy 0 is the identity, so the composite is
    * a strict superset of the original. `boundsOverride` pins a key's
    * offset explicitly — REQUIRED when the same logical key shifts in
    * two tables (fact fk ⊆ dim pk means their max−min spans differ;
    * shifting both by the dim's span keeps every copy's joins
    * aligned). */
  def amplify(df: DataFrame, copies: Int, shiftKeys: Seq[String],
              shiftDays: Seq[String] = Nil, dayStep: Int = 3000,
              boundsOverride: Map[String, Long] = Map.empty): DataFrame = {
    require(copies >= 1, "amplify: copies must be >= 1")
    val toMeasure = shiftKeys.filterNot(boundsOverride.contains)
    val bounds: Map[String, Long] = (if (toMeasure.isEmpty) Map.empty[String, Long] else {
      val aggs = toMeasure.flatMap(c =>
        Seq(max(col(c)).cast("long").as(s"max_$c"), min(col(c)).cast("long").as(s"min_$c")))
      val row = df.agg(aggs.head, aggs.tail: _*).collect().head
      toMeasure.map(c => c ->
        (row.getAs[Long](s"max_$c") - row.getAs[Long](s"min_$c") + 1L)).toMap
    }) ++ boundsOverride
    (0 until copies).map { k =>
      df.select(df.columns.map {
        case c if shiftKeys.contains(c) =>
          (col(c) + lit(k * bounds(c))).cast(df.schema(c).dataType).as(c)
        case c if shiftDays.contains(c) =>
          (col(c) + expr(s"INTERVAL ${k * dayStep} DAYS"))
            .cast(df.schema(c).dataType).as(c)
        case c => col(c)
      }: _*)
    }.reduce(_ union _)
  }

  /** Copies per composite input: ~10× sf0.1, ~100× sf0.01. */
  val K = 10

  /** Writes the K-fold composites of `sfDir` that [[Scaling]]'s two
    * composite spans read: `entityDir` holds every table whose keys
    * become symbols, users, docs or graph nodes, shifted (S, |V|, |E|
    * all ×K); `dateDir` holds lineitem with the same symbols over K
    * disjoint 8-year panels. */
  def build(spark: SparkSession, sfDir: String, entityDir: String, dateDir: String): Unit = {
    import graft.sources.Tables
    amplify(Tables.lineitem(spark, sfDir), K,
        shiftKeys = Seq("l_orderkey", "l_partkey", "l_suppkey"))
      .write.mode("overwrite").parquet(s"$entityDir/lineitem.parquet")
    // customer pk span pins BOTH custkey shifts (o_custkey ⊆ c_custkey
    // makes their measured spans differ — see amplify's boundsOverride)
    val custRow = Tables.customer(spark, sfDir)
      .agg(max(col("c_custkey")).cast("long").as("mx"),
        min(col("c_custkey")).cast("long").as("mn")).collect().head
    val custSpan = custRow.getAs[Long]("mx") - custRow.getAs[Long]("mn") + 1L
    amplify(Tables.orders(spark, sfDir), K,
        shiftKeys = Seq("o_orderkey", "o_custkey"),
        boundsOverride = Map("o_custkey" -> custSpan))
      .write.mode("overwrite").parquet(s"$entityDir/orders.parquet")
    // K disjoint user worlds for the interval lane (events.ts reads as
    // nanos-long, so copies share the clock — the window side is
    // day-keyed and stays fixed, which is exactly the linear shape the
    // bound asserts) and K verbatim corpus copies for the sparse-
    // cosine lane (doc_ids disjoint, text identical: df ×K, IDF
    // invariant, pair space ×K² by semantics)
    amplify(Tables.events(spark, sfDir), K,
        shiftKeys = Seq("event_id", "user_id"))
      .write.mode("overwrite").parquet(s"$entityDir/events.parquet")
    amplify(Tables.documents(spark, sfDir), K,
        shiftKeys = Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$entityDir/documents.parquet")
    // the GROUPING SETS lane joins orders → customer → nation:
    // customer shifts on the SAME custkey offsets as orders (so every
    // copy's orders still find their customer), nation is a fixed
    // dimension and ships verbatim
    amplify(Tables.customer(spark, sfDir), K,
        shiftKeys = Seq("c_custkey"),
        boundsOverride = Map("c_custkey" -> custSpan))
      .write.mode("overwrite").parquet(s"$entityDir/customer.parquet")
    Tables.nation(spark, sfDir)
      .write.mode("overwrite").parquet(s"$entityDir/nation.parquet")
    // cramers_v walks orders → customer → nation → region; region is
    // a fixed 5-row dimension and ships verbatim
    Tables.region(spark, sfDir)
      .write.mode("overwrite").parquet(s"$entityDir/region.parquet")
    amplify(Tables.lineitem(spark, sfDir), K,
        shiftKeys = Nil, shiftDays = Seq("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dateDir/lineitem.parquet")
  }
}
