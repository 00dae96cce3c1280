package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Materialized SILVER marts, mirroring the reference's dbt
  * architecture: `int_daily_prices` / `int_rolling_metrics` are
  * `materialized='table'` dbt models
  * (`/root/reference/src/dbt/models/intermediate/int_*.sql`) — every
  * downstream gold mart reads the COMPUTED panel, it never
  * re-aggregates raw fills. This object gives the registry the same
  * contract: the daily-bar aggregation (raw lineitem fills → one
  * OHLCV row per symbol×day) and the returns panel on top of it are
  * computed ONCE per distinct input content and parquet-cached in
  * scratch; the 70+ registry queries that start from the daily panel
  * read the mart.
  *
  * At 100 TB this IS the architecture, not a bench trick: silver
  * panels are materialized, partitioned tables in the lake (the
  * medallion pattern the reference implements bronze→silver→gold),
  * refreshed when the raw layer changes — which is exactly what the
  * content key detects. Locally the cache is [[Scratch.cached]]
  * (tmpfs when available), the same cache as the staged streaming
  * replays, keyed by the full MD5 of the raw tables' part stats:
  * regenerating the input in place changes part mtimes ⇒ new key ⇒ the
  * mart is rebuilt. A half-written mart from a killed run is never
  * published and gets rebuilt.
  *
  * Lossless by construction: the panel's columns are int64 keys, a
  * date, min/max of the raw doubles and an integer-valued volume —
  * a parquet round trip is bit-exact, so every oracle hash is
  * unchanged whether a query reads the mart or recomputes the panel
  * (MartsSpec pins frame equality both ways; `graft.marts.materialize
  * =false` is the kill-switch that forces the recompute path). */
object Marts {

  /** Bump when a mart DEFINITION changes so old caches can't serve a
    * new formula. */
  private val Version = 1

  private def enabled(s: SparkSession): Boolean =
    s.conf.getOption("graft.marts.materialize").forall(_.toBoolean)

  /** Daily OHLCV bars (silver): content-keyed materialization of
    * [[Adapters.dailyBars]], keyed on the raw lineitem table. */
  def dailyBars(s: SparkSession, dir: String): DataFrame =
    materialized(s, "daily_bars", s"$dir/lineitem.parquet")(
      Adapters.dailyBars(s, dir))

  /** Returns panel (silver): [[graft.operators.DailyAnalytics.dailyReturns]]
    * over [[dailyBars]] — the `int_daily_prices` twin, one window pass
    * materialized instead of re-run by every consumer. */
  def dailyReturns(s: SparkSession, dir: String): DataFrame =
    materialized(s, "daily_returns", s"$dir/lineitem.parquet")(
      graft.operators.DailyAnalytics.dailyReturns(dailyBars(s, dir)))

  /** Bipartite customer–supplier co-purchase edge list (silver): the
    * orders⋈lineitem distinct pair set all entity-graph queries
    * (PageRank/PPR/k-core/LPA/HITS) walk — one join+distinct
    * materialized instead of five. Node ids pack kind in the low bit
    * (even = customer·2, odd = supplier·2+1). */
  def bipartiteEdges(s: SparkSession, dir: String): DataFrame =
    materialized(s, "bipartite_edges", s"$dir/orders.parquet", s"$dir/lineitem.parquet") {
      import org.apache.spark.sql.functions._
      Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey")),
          "o_orderkey")
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
    }

  /** Part co-purchase pair graph (silver): parts bought together in ≥2
    * orders — the lineitem self-join the part-graph queries
    * (triangles/clustering/Adamic-Adar/assortativity) share; the
    * heaviest graph prep in the registry, materialized once. */
  def copurchasePairs(s: SparkSession, dir: String): DataFrame =
    materialized(s, "copurchase_pairs", s"$dir/lineitem.parquet") {
      import org.apache.spark.sql.functions._
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
      li.join(li.select(col("l_orderkey"), col("l_partkey").as("p2")), "l_orderkey")
        .filter(col("l_partkey") < col("p2"))
        .groupBy(col("l_partkey").as("u"), col("p2").as("v"))
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
    }

  /** Directed intra-order part SEQUENCE edge list (silver): part on
    * line k → part on line k+1 within each order, restricted to
    * quantity ≥ 35 line items (the percolation screen q_scc documents
    * — unscreened, the graph collapses into one giant SCC). The
    * lineitem scan + per-order window is the expensive prep of the
    * directed-graph lane; materialized once like [[copurchasePairs]]. */
  def sequenceEdges(s: SparkSession, dir: String): DataFrame =
    materialized(s, "sequence_edges", s"$dir/lineitem.parquet") {
      import org.apache.spark.sql.functions._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_orderkey").orderBy("l_linenumber", "l_partkey")
      Tables.lineitem(s, dir)
        .filter(col("l_quantity") >= 35)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
        .withColumn("dst", lead(col("l_partkey"), 1).over(w))
        .filter(col("dst").isNotNull && col("dst") =!= col("l_partkey"))
        .select(col("l_partkey").as("src"), col("dst"))
        .distinct()
    }

  private def materialized(s: SparkSession, name: String, srcPaths: String*)(
      build: => DataFrame): DataFrame = {
    if (!enabled(s)) return build
    val srcs = srcPaths.map(new java.io.File(_))
    if (!srcs.forall(_.exists)) return build // non-standard layout → recompute
    s.read.parquet(Scratch.cached(s"mart_$name", Version, srcs)(
      build.write.mode("overwrite").parquet(_)))
  }
}
