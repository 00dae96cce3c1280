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
}

/** Measures the S²/graph families past the fixed-cost floor: builds a
  * K=10 composite of sf0.1 in BOTH directions (entity-shifted for
  * pair/graph cardinality growth, date-shifted for panel-length
  * growth), times each family at sf0.1 vs the composite, and rewrites
  * the composite section of `SCALING.md`.
  *
  * `SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.CompositeScalingBench"` */
object CompositeScalingBench {
  val K = 10

  /** (query, direction, bound multiple of t(sf0.1)): entity-direction
    * pair families are gated linear-in-pair-space (1.5·K²); everything
    * else linear-in-rows (1.5·K). */
  val entityFamilies: Seq[(String, Double)] = Seq(
    ("q_pairs_spread", 1.5 * K * K),
    ("q_pair_correlation", 1.5 * K * K),
    ("q_winsorize", 1.5 * K),
    ("q_triangles", 1.5 * K),
    ("q_pagerank", 1.5 * K),
    ("q_communities", 1.5 * K),
    // round-13 graph lanes: PPR is bounded-round push over the same
    // bipartite edges (row-linear); clustering coefficient counts the
    // same degree-capped wedges as triangles — K disjoint worlds keep
    // both edge-linear.
    ("q_ppr", 1.5 * K),
    ("q_clustering_coef", 1.5 * K),
    // round-12 families (r12 verdict task #3): the graph quartet and
    // the bootstrap are row/edge-linear (K disjoint worlds ⇒ K bar);
    // interval overlap is linear because the window side is keyed by
    // (event_type, day) — a fixed dimension — so bucket candidates
    // grow with the interval side only.
    ("q_kcore", 1.5 * K),
    ("q_hits", 1.5 * K),
    ("q_link_predict", 1.5 * K),
    ("q_assortativity", 1.5 * K),
    ("q_hash_bootstrap", 1.5 * K),
    ("q_interval_overlap", 1.5 * K),
    // K-fold corpus duplication grows every df by K: posting lists of
    // the surviving df∈[minDf,maxDf] tokens lengthen ×K, so the
    // candidate-pair space the operator must score grows K² BY THE
    // OPERATOR'S SEMANTICS (a corpus duplicated 10× really has ~100×
    // the near-dup pairs) — same linear-in-pair-space bar as the S²
    // lanes. The structural cap (≤ maxDf² pairs per token) is what
    // keeps it off the all-pairs cliff.
    ("q_sparse_cosine", 1.5 * K * K),
    // round-13 join shapes (r13 verdict task #4): the econometrics
    // lag joins (Granger, lead-lag CCF) pair ADJACENT symbols only —
    // S−1 pairs, row-linear in S, no pair-space blowup; two-factor OLS
    // is a per-symbol closed-form regression against a day-grain
    // market factor (one agg + one equi join); Markov attribution runs
    // K disjoint user worlds (journeys never cross copies); GROUPING
    // SETS is a fixed 4-set expansion of a row-linear agg; Gopher
    // rules are a single scan over K disjoint doc copies.
    ("q_granger", 1.5 * K),
    ("q_lead_lag", 1.5 * K),
    ("q_two_factor", 1.5 * K),
    ("q_markov_attrib", 1.5 * K),
    ("q_grouping_sets", 1.5 * K),
    ("q_gopher_rules", 1.5 * K),
    // round-14 shapes: BFS is bounded-round message passing over the
    // co-purchase graph (edge-linear, like the quartet); the
    // econometrics fold/window lanes (Fama–MacBeth, ADX) are
    // row-linear single-pass panels.
    ("q_bfs_hops", 1.5 * K),
    ("q_fama_macbeth", 1.5 * K),
    ("q_adx", 1.5 * K),
    // round-14 wave 2: closeness is the bfs machinery at (seed, node)
    // grain — still edge-linear over K disjoint worlds; Kyle's lambda
    // and Holt–Winters are single-pass per-symbol panels; Cramér's V
    // is a fact-grain rollup onto a bounded level grid; TextRank on K
    // VERBATIM corpus copies keeps the vocabulary graph fixed while
    // the tokenize/rollup side grows ×K — corpus-linear by
    // construction (the Heaps'-law sublinearity claim, measured)
    ("q_closeness", 1.5 * K),
    ("q_kyle_lambda", 1.5 * K),
    ("q_holt_winters", 1.5 * K),
    ("q_cramers_v", 1.5 * K),
    ("q_textrank", 1.5 * K),
    // round-14 waves 3-4: VPIN and McNemar are one user/symbol window
    // pass + bounded rollups over K disjoint user worlds; entropy rate
    // and kappa reduce to fixed |S|²/k² dimension frames after one
    // fact rollup; QLM's candidate set grows with matching docs
    // (row-linear, grid side is a fixed |q|-row dim); ANOVA is one
    // 7-group rollup
    ("q_vpin", 1.5 * K),
    ("q_mcnemar", 1.5 * K),
    ("q_entropy_rate", 1.5 * K),
    ("q_cohens_kappa", 1.5 * K),
    ("q_qlm_dirichlet", 1.5 * K),
    ("q_anova_dow", 1.5 * K),
    // round-15 shapes: URL canonicalization is a scan projection +
    // one rollup over K doc copies (row-linear); the Aho-Corasick
    // sweep gets K× docs AND K× needles simultaneously — the
    // automaton absorbs needle growth, so the bar is CORPUS-linear
    // (1.5·K), i.e. sublinear in the needles×docs product the naive
    // per-needle scan would pay (K² here); Theil runs one key rollup
    // + a 1-row broadcast; the tick impact panel is one symbol-window
    // pass over K disjoint event worlds; the reservoir sample is
    // per-partition top-k + a k·P driver merge (row-linear scan)
    ("q_url_dedup", 1.5 * K),
    ("q_decontamination_multi", 1.5 * K),
    ("q_theil_inequality", 1.5 * K),
    ("q_tick_impact", 1.5 * K),
    ("q_reservoir_sample", 1.5 * K),
    // wave 3: k-truss is rounds+1 degree-oriented triangle passes over
    // K disjoint worlds (edge-linear, the triangles bar); Cochran's Q
    // and Friedman are one/two partial-aggregable rollups + bounded
    // dimension frames
    ("q_ktruss", 1.5 * K),
    ("q_cochran_q", 1.5 * K),
    ("q_friedman", 1.5 * K),
    // wave 4: rich-club is a degree rollup + one ladder explode
    // (edge-linear); mutual information is the cramers_v fact-rollup
    // shape on occupied cells; the inter-arrival fit is one symbol
    // window pass + bounded rollups over K disjoint user worlds
    ("q_rich_club", 1.5 * K),
    ("q_mutual_info", 1.5 * K),
    ("q_interarrival", 1.5 * K),
    // round-16 shapes: paragraph dedup is one hash rollup + one
    // co-partitioned join back (paragraph-linear; K doc copies also
    // multiply every occurrence count ×K without changing the plan);
    // Good-Turing is a vocabulary rollup + 1-row reduction; the
    // realized kernel is the microstructure window pass + rollup
    // over K disjoint event worlds
    ("q_dedup_paragraph", 1.5 * K),
    ("q_good_turing", 1.5 * K),
    ("q_realized_kernel", 1.5 * K),
    // token dispersion is the (token, source) rollup + a token rollup
    // over K doc copies (row-linear; the grid only widens with m);
    // RBO is two vocabulary rollups + a depth-bounded join — the
    // pre-top keeps the rank window off the full vocabulary
    ("q_token_dispersion", 1.5 * K),
    ("q_rbo_drift", 1.5 * K),
    // Bradley-Terry's pair grid grows K² in the symbol axis BY THE
    // OPERATOR'S SEMANTICS (the pair_correlation bar); pass@k is one
    // task rollup over K disjoint user worlds. The r16 regen measured
    // the then-NAIVE day-grain self-join at 178.4 on this 150 bound
    // (quiet host hf 0.99, spread 1.04 — the table's one miss); r17
    // rebuilt the grid on the blocked co-partitioned device
    // (DailyAnalytics.headToHead) that holds q_pairs_spread at ~71x
    // on the same axis. Bound kept at 150: the bar the rewrite meets.
    ("q_bradley_terry", 1.5 * K * K),
    ("q_pass_at_k", 1.5 * K),
    // round-17 corpus shapes over K doc copies: Wasserstein runs a
    // doc-grain length pass then lives on the LENGTHS×SOURCES grid
    // (support widens sub-linearly; the fact pass is row-linear);
    // diversity is a (source, token) rollup + source rollup
    ("q_wasserstein_drift", 1.5 * K),
    ("q_diversity_index", 1.5 * K),
    // MATTR is one narrow doc scan of O(W)-bounded array work per doc
    // + a source rollup (row-linear over K doc copies)
    ("q_mattr", 1.5 * K),
    // keyness is one exploded pass to (token, half) + a 1-row totals
    // broadcast + the house pre-top; burstiness is the (doc, token)
    // rollup + token rollup — both row-linear over K doc copies
    ("q_keyness_llr", 1.5 * K),
    ("q_token_burstiness", 1.5 * K))
  val dateFamilies: Seq[(String, Double)] = Seq(
    ("q_pairs_spread", 1.5 * K),
    ("q_pair_correlation", 1.5 * K),
    ("q_winsorize", 1.5 * K),
    // the lag joins' own growth axis is panel LENGTH — lag windows and
    // the cross-symbol equi join are row-linear in D
    ("q_granger", 1.5 * K),
    ("q_lead_lag", 1.5 * K),
    // Holt–Winters' own growth axis is fold LENGTH (one sorted
    // collect + one linear fold per symbol)
    ("q_holt_winters", 1.5 * K),
    // MASE's growth axis is panel length too: two lags sharing one
    // window sort + a symbol rollup
    ("q_mase_seasonal", 1.5 * K),
    // Hill's growth axis is loss-panel length: one rank window over
    // the loss subset + a broadcast threshold join + one rollup
    ("q_hill_tail", 1.5 * K),
    // Pettitt is three symbol-partitioned windows + one rollup
    // (panel-length-linear); Brown-Forsythe is two 7-group rollups
    // around a broadcast median join; Kupiec is two symbol windows
    // sharing one sort + a broadcast threshold join + one rollup
    ("q_pettitt", 1.5 * K),
    ("q_brown_forsythe", 1.5 * K),
    ("q_kupiec_pof", 1.5 * K),
    // round-17 returns shapes, all panel-length-linear in D: Elo is a
    // days-dimension index broadcast + one sorted collect + a linear
    // quantized fold per symbol (the Holt-Winters fold bar); Brier is
    // one symbol-ordered window + a rollup; pinball is the Kupiec
    // train-rank/test-rollup split with a 5-row-per-symbol ladder
    ("q_elo_market", 1.5 * K),
    ("q_brier_skill", 1.5 * K),
    ("q_pinball_loss", 1.5 * K),
    // CDaR is the running-peak window + one rank window + a rollup;
    // energy distance is two rank windows sharing the symbol
    // partition + a rollup — both panel-length-linear, no fan-out
    ("q_cdar", 1.5 * K),
    ("q_energy_distance", 1.5 * K),
    // tail dependence is one symbol rank window + a days-dimension
    // rank + broadcast threshold joins + a rollup (panel-linear)
    ("q_tail_dependence", 1.5 * K))

  val BeginMarker = "<!-- GENERATED:composite-scaling -->"
  val EndMarker = "<!-- /GENERATED:composite-scaling -->"

  def buildComposites(spark: SparkSession, sfDir: String, base: String): (String, String) = {
    import graft.sources.Tables
    val entityDir = s"$base/composite_entity"
    val dateDir = s"$base/composite_date"
    // entity direction: K disjoint worlds — every key that becomes a
    // symbol or graph node shifts, so S, |V|, |E| all grow ×K
    Composite.amplify(Tables.lineitem(spark, sfDir), K,
        shiftKeys = Seq("l_orderkey", "l_partkey", "l_suppkey"))
      .write.mode("overwrite").parquet(s"$entityDir/lineitem.parquet")
    // customer pk span pins BOTH custkey shifts (o_custkey ⊆ c_custkey
    // makes their measured spans differ — see amplify's boundsOverride)
    val custRow = Tables.customer(spark, sfDir)
      .agg(max(col("c_custkey")).cast("long").as("mx"),
        min(col("c_custkey")).cast("long").as("mn")).collect().head
    val custSpan = custRow.getAs[Long]("mx") - custRow.getAs[Long]("mn") + 1L
    Composite.amplify(Tables.orders(spark, sfDir), K,
        shiftKeys = Seq("o_orderkey", "o_custkey"),
        boundsOverride = Map("o_custkey" -> custSpan))
      .write.mode("overwrite").parquet(s"$entityDir/orders.parquet")
    // K disjoint user worlds for the interval lane (events.ts reads as
    // nanos-long, so copies share the clock — the window side is
    // day-keyed and stays fixed, which is exactly the linear shape the
    // bound asserts) and K verbatim corpus copies for the sparse-
    // cosine lane (doc_ids disjoint, text identical: df ×K, IDF
    // invariant, pair space ×K² by semantics)
    Composite.amplify(Tables.events(spark, sfDir), K,
        shiftKeys = Seq("event_id", "user_id"))
      .write.mode("overwrite").parquet(s"$entityDir/events.parquet")
    Composite.amplify(Tables.documents(spark, sfDir), K,
        shiftKeys = Seq("doc_id"))
      .write.mode("overwrite").parquet(s"$entityDir/documents.parquet")
    // the GROUPING SETS lane joins orders → customer → nation:
    // customer shifts on the SAME custkey offsets as orders (so every
    // copy's orders still find their customer), nation is a fixed
    // dimension and ships verbatim
    Composite.amplify(Tables.customer(spark, sfDir), K,
        shiftKeys = Seq("c_custkey"),
        boundsOverride = Map("c_custkey" -> custSpan))
      .write.mode("overwrite").parquet(s"$entityDir/customer.parquet")
    Tables.nation(spark, sfDir)
      .write.mode("overwrite").parquet(s"$entityDir/nation.parquet")
    // cramers_v walks orders → customer → nation → region; region is
    // a fixed 5-row dimension and ships verbatim
    Tables.region(spark, sfDir)
      .write.mode("overwrite").parquet(s"$entityDir/region.parquet")
    // date direction: same symbols, K disjoint 8-year panels
    Composite.amplify(Tables.lineitem(spark, sfDir), K,
        shiftKeys = Nil, shiftDays = Seq("l_shipdate"))
      .write.mode("overwrite").parquet(s"$dateDir/lineitem.parquet")
    (entityDir, dateDir)
  }

  def main(args: Array[String]): Unit = {
    // Diagnostic mode: `runMain ... q_a q_b` measures only the named
    // families and prints to stdout WITHOUT rewriting SCALING.md (the
    // generated table stays a full-run artifact; partial patches would
    // mix hosts). Used to re-read a flagged row in isolation.
    val only = args.toSet
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "2").toInt
    val sfDir = "/root/testdata/sf0.1"
    val spark = graft.Session.getOrCreate("graft-composite")
    val cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("WARN")
    // measure the FULL recompute path: with the silver marts on, the
    // first trial pays the edge-list/panel build and the min-of-N
    // timing then reads a parquet cache — the ratio would measure the
    // post-prep algorithm only. The probe's claim is about the whole
    // operator including its heaviest join, so marts are disabled here.
    spark.conf.set("graft.marts.materialize", "false")
    val base = graft.sources.Scratch.dir("graft_composite")
    val (entityDir, dateDir) = buildComposites(spark, sfDir, base)

    // Deterministic block release per timed run (graft.Bench.timed):
    // snapshot localCheckpoint blocks otherwise ACCUMULATE across the
    // ~45 families of a full regen, and by mid-run the composite-scale
    // trials measure executor memory pressure instead of the plan
    // (r15: q_hits recorded 64 s / ratio 31 in the full sweep vs
    // 27.5 s / ratio 9.6 isolated on the same code and host).
    def timed(name: String, dir: String): Double =
      graft.Bench.timed(spark)(graft.SparkEntry.queries(name)(spark, dir).count())
    // warm codegen/JIT at the bench scale itself
    (entityFamilies.map(_._1) ++ dateFamilies.map(_._1)).distinct
      .filter(n => only.isEmpty || only(n))
      .foreach(n => timed(n, "/root/testdata/sf0.01"))
    // the partition dial scales WITH the volume (the same knob a
    // cluster turns): 10× the input at the session's 32 partitions
    // means 10× the per-task agg map, which spills; 128 partitions
    // keep per-task state at roughly the sf0.1 working-set size
    // per-row SPREAD (max/min over the trials at each scale) makes
    // regens comparable: the r14 wave-3 commit cited a pairs ratio
    // (11.2) that a later regen on a drifting host measured at 46.9 —
    // with the spread and the host canary in the table, a reader can
    // tell a tight measurement from a stall-inflated one instead of
    // trusting whichever regen ran last.
    def spreadOf(ts: Seq[Double]): Double =
      if (ts.min > 0) math.rint(ts.max / ts.min * 100) / 100 else -1.0
    def series(fams: Seq[(String, Double)], dir: String) = fams.map { case (n, bound) =>
      val ts0 = (1 to trials).map(_ => { System.gc(); timed(n, sfDir) })
      val t0 = ts0.min
      println(f"[composite] $n sf0.1 $t0%.2f s (spread ${spreadOf(ts0)}%.2f)")
      val ts1 = graft.Session.withConf(spark, "spark.sql.shuffle.partitions" -> "128") {
        (1 to trials).map(_ => { System.gc(); timed(n, dir) }) }
      val t1 = ts1.min
      println(f"[composite] $n composite $t1%.2f s (ratio ${t1 / math.max(t0, 0.15)}%.1f)")
      (n, t0, t1, t1 / math.max(t0, 0.15), bound, spreadOf(ts0), spreadOf(ts1))
    }
    val canaryStart = graft.HostCanary.measure(spark)
    val entFams =
      if (only.isEmpty) entityFamilies else entityFamilies.filter(f => only(f._1))
    val datFams =
      if (only.isEmpty) dateFamilies else dateFamilies.filter(f => only(f._1))
    val ent = series(entFams, entityDir)
    val dat = series(datFams, dateDir)
    val canaryEnd = graft.HostCanary.measure(spark)
    def hf(c: Double) = math.rint(c / graft.HostCanary.Ref * 100) / 100
    if (only.nonEmpty) {
      println(f"[composite] diagnostic mode: host_factor ${hf(canaryStart)}%.2f" +
        f" -> ${hf(canaryEnd)}%.2f; SCALING.md NOT rewritten")
      graft.sources.Scratch.deleteDir(base)
      spark.stop()
      return
    }

    val sb = new StringBuilder
    sb ++= BeginMarker + "\n\n"
    sb ++= "## Composite ~10× sf0.1 — growth past the fixed-cost floor\n\n"
    sb ++= s"Generated by `runMain graft.tools.CompositeScalingBench` (local[$cpus],\n"
    sb ++= s"min-of-$trials per scale, K=$K key-shifted copies of sf0.1 built\n"
    sb ++= "in-engine by `Composite.amplify` — testdata itself caps at sf0.1).\n"
    sb ++= f"Host canary (fixed CPU fold, ref ${graft.HostCanary.Ref}%.2f s): " +
      f"host_factor ${hf(canaryStart)}%.2f at start, ${hf(canaryEnd)}%.2f at end —\n"
    sb ++= "ratios from runs whose factors differ are NOT directly comparable.\n"
    sb ++= "Per-row `spr` columns are max/min over that row's trials at each\n"
    sb ++= "scale; a ratio whose spread is large was measured under host noise\n"
    sb ++= "and should be re-read against an isolated re-run, not trusted raw.\n"
    sb ++= "The 10× span in the table above probes where fixed costs dominate;\n"
    sb ++= "this section drives the S²/graph families ~100× past sf0.01.\n\n"
    sb ++= "**Entity direction** (symbols/nodes ×10 — lineitem 6 M rows,\n"
    sb ++= "orders 1.5 M, 1 000 symbols, ~10× nodes/edges): for the ALL-PAIRS\n"
    sb ++= "operators the candidate space grows K²=100× BY THE OPERATOR'S\n"
    sb ++= "SEMANTICS (10× symbols ⇒ 100× correlation pairs in the answer), so\n"
    sb ++= "the scalable property is time linear in PAIR SPACE (bound 1.5·K²);\n"
    sb ++= "row-linear operators keep the ordinary 1.5·K bar. The round-12\n"
    sb ++= "families join the table: the graph quartet (k-core, HITS,\n"
    sb ++= "Adamic-Adar, assortativity) and the hash bootstrap are edge/row-\n"
    sb ++= "linear over K disjoint worlds; interval overlap is linear because\n"
    sb ++= "its window side is (event_type, day)-keyed — a fixed dimension;\n"
    sb ++= "sparse TF-IDF cosine runs on K VERBATIM corpus copies (doc_ids\n"
    sb ++= "shifted, text identical), where duplication grows every df ×K and\n"
    sb ++= "hence the true near-dup pair space ×K² — it carries the 1.5·K²\n"
    sb ++= "pair-space bar, kept off the all-pairs cliff by the maxDf² per-\n"
    sb ++= "token structural cap. The round-13 join shapes are row-linear by\n"
    sb ++= "construction: Granger/lead-lag pair ADJACENT symbols only (S−1\n"
    sb ++= "pairs), two-factor OLS is one day-grain factor agg + an equi\n"
    sb ++= "join, Markov attribution runs K disjoint user worlds, GROUPING\n"
    sb ++= "SETS is a fixed 4-set expansion, Gopher rules a single scan.\n\n"
    sb ++= "| query | t(sf0.1) s | spr | t(composite) s | spr | ratio | bound | ok |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    ent.foreach { case (n, t0, t1, r, b, s0, s1) =>
      sb ++= f"| $n | $t0%.2f | $s0%.2f | $t1%.2f | $s1%.2f | $r%.1f | $b%.0f | ${if (r <= b) "yes" else "NO"} |\n"
    }
    sb ++= "\n**Date direction** (panel length ×10, symbols fixed — the\n"
    sb ++= "direction where D·S² is row-linear; same 1.5·K bar as the main\n"
    sb ++= "table):\n\n"
    sb ++= "| query | t(sf0.1) s | spr | t(composite) s | spr | ratio | bound | ok |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    dat.foreach { case (n, t0, t1, r, b, s0, s1) =>
      sb ++= f"| $n | $t0%.2f | $s0%.2f | $t1%.2f | $s1%.2f | $r%.1f | $b%.0f | ${if (r <= b) "yes" else "NO"} |\n"
    }
    val allOk = (ent ++ dat).forall { case (_, _, _, r, b, _, _) => r <= b }
    sb ++= s"\nAll within bounds: $allOk.\n\n"
    sb ++= EndMarker
    val path = java.nio.file.Paths.get("SCALING.md")
    val cur = new String(java.nio.file.Files.readAllBytes(path),
      java.nio.charset.StandardCharsets.UTF_8)
    val next = (cur.indexOf(BeginMarker), cur.indexOf(EndMarker)) match {
      case (b, e) if b >= 0 && e > b =>
        cur.substring(0, b) + sb.toString + cur.substring(e + EndMarker.length)
      case _ => cur + "\n" + sb.toString + "\n"
    }
    java.nio.file.Files.write(path, next.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"SCALING.md composite section written (allOk=$allOk)")
    graft.sources.Scratch.deleteDir(base)
    spark.stop()
  }
}
