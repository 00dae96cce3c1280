package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Funcs.{nullifZero, rd}
import graft.sources.Staging
import graft.sources.Staging.Snapshottable

/** Link-analysis operators over relational edge lists.
  *
  * The reference has no graph operator; this is the scale path for
  * corpus-level importance scoring (site/domain ranking feeds crawl
  * prioritization and quality weighting in pretraining pipelines —
  * the original application of PageRank, Brin & Page, WWW'98).
  *
  * Staging regime for the bounded-round loops: each loop probes its
  * NODE/LABEL frame (the self-joins: the joined frame itself) with
  * [[Staging.isLarge]] and picks per scale. Small labels (they
  * broadcast) → plain snapshots; every per-round join broadcasts the
  * label side and the edge frame never moves — the optimal small-data
  * plan. Labels past the broadcast threshold, or of unmeasured size
  * (reliable checkpoints) → the loop pins hash layouts
  * ([[Staging.snapshotKeyed]]) on its edge AND label frames once, and
  * every round's join/aggregate then reuses the layout instead of
  * re-exchanging — the optimal big-data plan (at 100 TB, one message
  * shuffle per round instead of two-plus). Same code, both regimes.
  *
  * Each graph shape has one setup: [[directed]] (PageRank, PPR, HITS,
  * SCC), [[undirected]] (the triangle family, rich club, Adamic-Adar,
  * assortativity) and [[symmetric]] (the BFS frontier loops).
  * Label propagation and k-core keep their raw endpoints (no null or
  * self-loop filter); their oracles mirror that.
  */
object Graph {

  /** Big-regime re-key: replace an existing snapshot with a pinned
    * hash(keys) copy (one pass over its materialized blocks) and free
    * the original. No-op in the broadcast regime. */
  private def rekeyIf(big: Boolean, df: DataFrame, keys: String*): DataFrame =
    if (!big) df else {
      val keyed = Staging.snapshotKeyed(df, keys: _*)
      Staging.release(df)
      keyed
    }

  /** Loop-carried staging: pinned in the big regime, plain otherwise. */
  private def stageIf(big: Boolean, df: DataFrame, keys: String*): DataFrame =
    if (big) Staging.snapshotKeyed(df, keys: _*) else Staging.snapshot(df)

  /** `edges` as long `(a, b)` pairs, without nulls or self-loops. */
  private def cleaned(edges: DataFrame, srcCol: String, dstCol: String,
                      a: String, b: String): DataFrame =
    edges.select(col(srcCol).cast("long").as(a), col(dstCol).cast("long").as(b))
      .filter(col(a).isNotNull && col(b).isNotNull && col(a) =!= col(b))

  /** Both directions of every `(u, v)` edge. */
  private def mirrored(e: DataFrame): DataFrame =
    e.union(e.select(col("v").as("u"), col("u").as("v")))

  /** The directed loops' setup: the cleaned, distinct `(src, dst)`
    * edge snapshot (reused every round), its node snapshot `id`
    * (joined on id every round), and the regime the node frame's size
    * SETS. Re-keying is the caller's: its join keys differ. */
  private def directed(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame, Boolean) = {
    val e = cleaned(edges, srcCol, dstCol, "src", "dst").distinct().snapshot()
    val nodes = e.select(col("src").as("id")).union(e.select(col("dst").as("id")))
      .distinct().snapshot()
    (e, nodes, Staging.isLarge(nodes))
  }

  /** The canonical undirected edge set: cleaned `(least, greatest)`
    * pairs, parallel edges collapsed. Not snapshotted. */
  private def undirected(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    cleaned(edges, srcCol, dstCol, "u", "v")
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()

  /** The frontier loops' setup ([[bfsHops]], [[closenessSample]]):
    * the cleaned edges in both directions, snapshotted and keyed on
    * `u` in the big regime (rounds join edges on u), and their node
    * snapshot, whose size SETS the regime. */
  private def symmetric(edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame, Boolean) = {
    val e = mirrored(cleaned(edges, srcCol, dstCol, "u", "v")).distinct().snapshot()
    val nodes = e.select(col("u").as("id")).distinct().snapshot()
    val big = Staging.isLarge(nodes)
    (rekeyIf(big, e, "u"), nodes, big)
  }

  /** Fixed-iteration PageRank in EXACT integer arithmetic.
    *
    * Ranks are scaled to `scale` (default 1e12) and every step is
    * integer-only: r₀ = scale div N, per-edge contribution =
    * rank div outdeg, damping r' = (3·scale) div (20·N) +
    * (17·in_sum) div 20 — i.e. 0.15/0.85 as exact rationals. No
    * doubles anywhere ⇒ bit-portable across engines and insensitive
    * to aggregation order, unlike the textbook float formulation
    * whose sums are order-dependent. The truncation error per step is
    * < 1 part in ~1e12 of total mass — irrelevant to ranking.
    *
    * Scale shape: each iteration is two equi-join shuffles (edges ⋈
    * ranks on src, then a partial-aggregable grouped sum on dst) — the
    * standard message-passing round, linear in |E|. `iters` is FIXED
    * (power iteration converges geometrically; pipelines run 5-20
    * rounds), so the plan is a bounded unrolled chain, checkpointed
    * every other round to keep lineage flat. The only driver-side
    * value is the node count (one scalar). Dangling nodes (no
    * out-edges) simply emit no mass — the usual simplification; the
    * ranking is still well-defined and deterministic.
    */
  def pageRankScaled(edges: DataFrame, srcCol: String, dstCol: String,
                     iters: Int = 2, scale: Long = 1000000000000L): DataFrame =
    rankLoop(edges, srcCol, dstCol, None, iters, scale)

  /** Personalized PageRank from a seed set (Jeh & Widom, WWW'03 —
    * random walk with restart): identical to [[pageRankScaled]] except
    * the restart mass returns UNIFORMLY TO THE SEEDS instead of all
    * nodes, turning the global importance rank into query-dependent
    * proximity — "which suppliers sit closest to THESE customers" is
    * a different question from "which suppliers matter overall". Same
    * exact-integer discipline: r₀ = scale div |S| on seeds and 0
    * elsewhere; per step, restart (3·scale) div (20·|S|) lands on
    * seeds only while the flow term (17·in_sum) div 20 is unchanged —
    * no doubles, order-insensitive, bit-portable. Seeds arrive as a
    * one-column DataFrame and stay distributed (joined in, broadcast-
    * able when small); the only driver scalar is |S∩V|. */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, iters: Int = 2,
                           scale: Long = 1000000000000L): DataFrame =
    rankLoop(edges, srcCol, dstCol, Some(seeds), iters, scale)

  /** The one exact-integer PageRank loop: restart mass on every node
    * when `seeds` is None ([[pageRankScaled]], which stages no seed
    * frame), on the seeds in the graph otherwise
    * ([[personalizedPageRank]]). */
  private def rankLoop(edges: DataFrame, srcCol: String, dstCol: String,
                       seeds: Option[DataFrame], iters: Int, scale: Long): DataFrame = {
    val (e0, nodes0, big) = directed(edges, srcCol, dstCol)
    val e = rekeyIf(big, e0, "src") // per-round message join keys on src
    val nodes = rekeyIf(big, nodes0, "id")
    val seed = seeds.map(s => stageIf(big, s
      .select(col(s.columns.head).cast("long").as("id")).distinct()
      .join(nodes, "id") // off-graph seeds carry no walk mass
      .withColumn("is_seed", lit(true)),
      "id")) // the restart flag joins (on id) every iteration
    val n = seed.getOrElse(nodes).count()
    require(n > 0, seed.fold("pageRankScaled: empty graph")(_ =>
      "personalizedPageRank: no seeds present in the graph"))
    // restart mass `v` lands on every node, or on the seeds only
    val onto = seed.fold(nodes)(s => nodes.join(s, Seq("id"), "left"))
    def share(v: Long): Column =
      if (seed.isEmpty) lit(v) else when(col("is_seed"), lit(v)).otherwise(lit(0L))
    val base = (3L * scale) / (20L * n) // 0.15 · scale / N (or / |S|), exact
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    var ranks = onto.select(col("id"), share(scale / n).as("rank"))
    for (i <- 1 to iters) {
      val contrib = e.join(ranks.withColumnRenamed("id", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("in_sum"))
      val next = onto.join(contrib.withColumnRenamed("dst", "id"), Seq("id"), "left")
        .select(col("id"), (share(base) + expr("17 * coalesce(in_sum, 0L) div 20")).as("rank"))
      ranks = if (i % 2 == 0 && i < iters) stageIf(big, next, "id") else next
    }
    ranks
  }

  /** Local (per-vertex) triangle counts over an undirected edge list —
    * the clustering-coefficient / community-density primitive (spam
    * and link-farm detection in web-graph curation; cohesion scoring
    * for co-occurrence graphs): [[triangles]] rolled up at node grain,
    * each triangle crediting its three vertices. */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    triangles(undirected(edges, srcCol, dstCol).snapshot()) // feeds degree count AND orientation
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))

  /** Per-edge triangle support over the canonical undirected edge
    * set: [[triangles]] rolled up at EDGE grain, each triangle
    * (a,b,c) crediting its three canonical (min,max) edges. The
    * building block [[kTruss]] peels on. */
  private def edgeSupport(und: DataFrame): DataFrame =
    triangles(und).select(explode(array(
        struct(least(col("a"), col("b")).as("eu"), greatest(col("a"), col("b")).as("ev")),
        struct(least(col("a"), col("c")).as("eu"), greatest(col("a"), col("c")).as("ev")),
        struct(least(col("b"), col("c")).as("eu"), greatest(col("b"), col("c")).as("ev"))))
        .as("e"))
      .select(col("e.eu").as("u"), col("e.ev").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("support"))

  /** Every triangle of the canonical undirected edge set `und`, once,
    * as `(a, b, c)`.
    *
    * Skew safety is the whole design: edges are ORIENTED from the
    * endpoint with the lower (degree, id) to the higher before the
    * wedge join (Schank-Wagner ordering; the MapReduce form is Suri &
    * Vassilvitskii, WWW'11). Every wedge is then generated at its
    * lowest-ordered vertex, whose oriented out-degree is O(√(2|E|))
    * regardless of raw degree — a celebrity vertex with 10⁸ neighbors
    * contributes no wedges at all unless both endpoints outrank it, so
    * the self-join fan-out is bounded and no reducer sees a quadratic
    * key. Each triangle is produced exactly once (its unique
    * lowest-ordered apex), closed by a semi join back to the oriented
    * edge set — equi joins only, all partial-aggregable.
    */
  private def triangles(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    val oriented = withDeg
      .select(when(uFirst, col("u")).otherwise(col("v")).as("a"),
        when(uFirst, col("v")).otherwise(col("u")).as("b"))
      .snapshot() // three plan appearances (2x wedge, closure)
    // SELF-join staging: the wedge join's other side is this same frame,
    // so the frame's own measured size is the regime probe — small
    // oriented lists broadcast (AQE), big ones get the pinned hash(a)
    // layout that makes both wedge sides exchange-free
    val o = rekeyIf(Staging.isLarge(oriented), oriented, "a")
    o.join(o.select(col("a"), col("b").as("c")), "a")
      .filter(col("b") =!= col("c"))
      .join(o.select(col("a").as("b"), col("b").as("c")), Seq("b", "c"), "left_semi")
  }

  /** Rich-club coefficient ladder (Zhou & Mondragón, IEEE Comm.
    * Letters 2004): φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k counts
    * nodes of degree > k and E_k the edges BETWEEN them — "do the
    * hubs preferentially link to each other", the structural question
    * behind assortativity's single number, answered at every rung of
    * a fixed degree ladder. φ → 1 means the top of the degree
    * distribution forms a near-clique (a spam ring, an exchange
    * backbone); φ → 0 means hubs are mutually avoided (a bipartite
    * catalog shape).
    *
    * Scale shape: one degree rollup, one edge⋈degree join (broadcast
    * — the degree frame is node-sized), then ONE explode of the
    * |ks|-entry ladder per edge/node and two partial-aggregable
    * rollups at (k) grain — no pair space, no windows; output is
    * EXACTLY |ks| rows (the ladder dimension is left-joined, so a
    * rung no node exceeds still yields a row with n_nodes = 0,
    * n_edges = 0 and NULL phi — fixed output cardinality, callers
    * never special-case missing rungs). Exact longs into one double
    * tree per rung. */
  def richClub(edges: DataFrame, srcCol: String, dstCol: String,
               ks: Seq[Int] = Seq(2, 4, 8, 16)): DataFrame = {
    require(ks.nonEmpty, "richClub: at least one degree rung")
    val und = undirected(edges, srcCol, dstCol)
      .snapshot() // feeds the degree rollup AND the edge-grain ladder
    val deg = und.select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .snapshot() // joined twice + the node-grain ladder
    val ladder = array(ks.map(k => lit(k.toLong)): _*)
    val rungs = edges.sparkSession.range(1).select(explode(ladder).as("k"))
    val nk = deg.select(col("deg"), explode(ladder).as("k"))
      .filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val ek = und
      .join(broadcast(deg.select(col("id").as("u"), col("deg").as("du"))), "u")
      .join(broadcast(deg.select(col("id").as("v"), col("deg").as("dv"))), "v")
      .select(explode(ladder).as("k"), col("du"), col("dv"))
      .filter(col("du") > col("k") && col("dv") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    rungs.join(nk, Seq("k"), "left").join(ek, Seq("k"), "left")
      .select(col("k").cast("long").as("k"),
        coalesce(col("n_nodes"), lit(0L)).cast("long").as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).cast("long").as("n_edges"),
        rd(lit(2.0) * coalesce(col("n_edges"), lit(0L)).cast("double") /
          nullifZero((coalesce(col("n_nodes"), lit(0L)) *
            (coalesce(col("n_nodes"), lit(0L)) - lit(1L))).cast("double")),
          6).as("phi"))
  }

  /** Bounded-round k-truss peel (Cohen, *Trusses: cohesive subgraphs
    * for social network analysis*, NSA tech report 2008): the
    * maximal subgraph where every edge sits in ≥ k−2 triangles — the
    * EDGE-grain cohesion standard between triangle counting (too
    * local) and clique finding (too hard); communities survive it,
    * bridges and spam links don't. Each round recomputes per-edge
    * support on the CURRENT edge set ([[edgeSupport]]) and drops
    * edges below k−2; `rounds` is a declared bounded contract (the
    * [[stronglyConnected]] convention — the oracle unrolls the same
    * rounds, so results are pinned, not approximate; real graphs
    * stabilize in 2-3 peels because each peel only removes edges
    * whose support DEPENDED on removed edges). Output is the
    * surviving edge set with support measured in the SURVIVING
    * subgraph (one final [[edgeSupport]] pass).
    *
    * Scale shape: rounds+1 triangle enumerations, each the
    * degree-oriented wedge join (linear in Σ min-degree work, the
    * [[triangleCounts]] cost model) plus an edge-grain rollup; the
    * edge set only shrinks, so later rounds are cheaper. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String,
             k: Int = 4, rounds: Int = 2): DataFrame = {
    require(k >= 3 && rounds >= 1, "kTruss: k >= 3 and rounds >= 1")
    var und = undirected(edges, srcCol, dstCol).snapshot() // peeled in place each round
    for (_ <- 1 to rounds) {
      und = und.join(edgeSupport(und), Seq("u", "v"), "left")
        .filter(coalesce(col("support"), lit(0L)) >= lit((k - 2).toLong))
        .select(col("u"), col("v"))
        .snapshot() // next round's degree + orientation input
    }
    und.join(edgeSupport(und), Seq("u", "v"), "left")
      .select(col("u"), col("v"),
        coalesce(col("support"), lit(0L)).as("support"))
  }

  /** Synchronous label-propagation communities (Raghavan, Albert &
    * Kumara 2007), `iters` UNROLLED rounds, fully deterministic:
    * every node starts as its own label and each round adopts the
    * MOST FREQUENT neighbor label with ties to the SMALLEST label —
    * the argmax packs (count, label) into one integer key
    * (c·10⁷ + (10⁷−1−label), requires 0 ≤ id < 10⁷) so the round is
    * a plain partial-aggregable MAX — the domain is enforced by a
    * per-row raise_error guard at label init, so out-of-range ids
    * fail loudly instead of corrupting communities — no
    * struct comparators, no
    * row_number shuffle (maximizing the complement term minimizes
    * the label WITHOUT the modulo wraparound a subtractive key has
    * at label 0). Completes the graph family next to
    * [[pageRankScaled]] / [[triangleCounts]] /
    * [[Dedup.connectedComponentsStar]]: CC answers "connected at all",
    * LPA answers "densely connected together".
    *
    * Scale shape: each round is one equi-join shuffle (edges ⋈
    * labels) plus two grouped aggregates — the same message-passing
    * cost as a PageRank round, linear in |E|; rounds are bounded and
    * snapshotted so lineage stays flat. */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       iters: Int = 2): DataFrame = {
    val M = 10000000L
    val sym0 = mirrored(edges.select(col(srcCol).as("u"), col(dstCol).as("v")))
      .distinct().snapshot()
    // the packed (count, label) argmax key is only injective for
    // 0 <= id < M; an out-of-domain id would silently corrupt labels,
    // so fail LOUDLY at the first pass over the node dimension (a
    // codegen'd per-row branch, no extra action or shuffle)
    val guarded = when(col("id") >= 0 && col("id") < M, col("id"))
      .otherwise(raise_error(concat(
        lit(s"labelPropagation: node id outside [0, $M): "),
        col("id").cast("string"))).cast("long"))
    var labels = sym0.select(col("u").as("id")).distinct()
      .withColumn("label", guarded)
      .snapshot() // materialized to set the regime (labels = the join's small side)
    val big = Staging.isLarge(labels)
    val sym = rekeyIf(big, sym0, "v") // the per-round message join keys on v
    for (_ <- 1 to iters) {
      labels = sym
        .join(labels.select(col("id").as("v"), col("label")), "v")
        .groupBy(col("u"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("u").as("id"))
        .agg(max(col("c") * M + (lit(M - 1) - col("label"))).as("key"))
        .select(col("id"), (lit(M - 1) - col("key") % M).as("label"))
      labels = stageIf(big, labels, "id") // renamed id->v next round; in
      // the big regime the alias-preserved pin keeps the round exchange-free
    }
    labels
  }

  /** Fixed-iteration HITS hubs/authorities (Kleinberg, JACM 1999) in
    * EXACT arithmetic: with per-round L1 normalization dropped (a
    * positive scalar per round, so the RANKING after a fixed number
    * of rounds is identical), the recurrences
    * a⁽ⁱ⁾(v) = Σ_{u→v} h⁽ⁱ⁻¹⁾(u), h⁽ⁱ⁾(u) = Σ_{u→v} a⁽ⁱ⁾(v) from
    * h⁽⁰⁾ = 1 are pure integer message passing — no doubles until the
    * final share division, so results are aggregation-order-free.
    * Magnitudes grow like deg^(2·iters); sums run in DECIMAL(38,0)
    * (overflow-safe past 10¹⁸-edge graphs where BIGINT message sums
    * would wrap). Scale shape mirrors [[pageRankScaled]]: each round
    * is two equi-join shuffles + partial-aggregable grouped sums,
    * linear in |E|; the final `hub_share`/`auth_share` divide each
    * score by the global total (one 1-row broadcast) — a single
    * division of two exact decimals, rounded to 6 dp.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int = 2): DataFrame = {
    require(iters >= 1, "hits: iters must be >= 1")
    val dec = "CAST(1 AS DECIMAL(38,0))"
    val (e, nodes0, big) = directed(edges, srcCol, dstCol)
    val nodes = rekeyIf(big, nodes0, "id")
    // big regime: TWO pinned edge copies — the auth half-round joins
    // edges on src, the hub half-round on dst; one extra pass over the
    // materialized checkpoint each buys an exchange-free |E| side in
    // both shapes. Broadcast regime: the score frames broadcast, the
    // edge frame never moves, one copy suffices.
    val eSrc = if (big) Staging.snapshotKeyed(e, "src") else e
    val eDst = rekeyIf(big, e, "dst")
    var hubs = nodes.select(col("id"), expr(dec).as("h"))
    var auths: DataFrame = null
    for (i <- 1 to iters) {
      val a = eSrc.join(hubs.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("h")).as("a"))
      // measured staging (small regime): auths/hubs join the big edge
      // side EVERY half-round, and the engine estimate for them is a
      // join-output blowup — the measured size restores the static
      // broadcast pick (HITS −40%, see Staging's object doc)
      val aFrame = nodes.join(a, Seq("id"), "left")
        .select(col("id"), coalesce(col("a"), expr("CAST(0 AS DECIMAL(38,0))")).as("a"))
      auths = if (big) Staging.snapshotKeyed(aFrame, "id")
        else Staging.snapshotMeasured(aFrame) // feeds hub half-round + output
      val h = eDst.join(auths.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(sum(col("a")).as("h"))
      hubs = nodes.join(h, Seq("id"), "left")
        .select(col("id"), coalesce(col("h"), expr("CAST(0 AS DECIMAL(38,0))")).as("h"))
      if (i < iters)
        hubs = if (big) Staging.snapshotKeyed(hubs, "id")
          else Staging.snapshotMeasured(hubs)
    }
    val totals = hubs.join(auths, "id")
      .agg(sum(col("h")).as("th"), sum(col("a")).as("ta"))
    hubs.join(auths, "id").crossJoin(broadcast(totals))
      .select(col("id"),
        rd(col("h").cast("double") / col("th").cast("double"), 6).as("hub_share"),
        rd(col("a").cast("double") / col("ta").cast("double"), 6).as("auth_share"))
  }

  /** Degree-capped Adamic-Adar link prediction: for each NON-adjacent
    * pair (u,v), score = Σ_{w ∈ N(u)∩N(v), deg(w) ≤ cap}
    * ⌊10⁶ / ln(deg w)⌋ — the classic common-neighbor predictor
    * (Adamic & Adar, Social Networks 2003) with the one modification
    * that makes it shuffle-safe at web scale: common neighbors ABOVE
    * the degree cap are excluded BY THE OPERATOR'S SEMANTICS (their
    * 1/ln(deg) weight is the smallest anyway — a 10⁸-degree hub says
    * almost nothing about any one pair), so wedge fan-out per apex is
    * ≤ cap², never the celebrity-node quadratic that uncapped AA
    * requires. Weights round through FLOOR to scaled longs BEFORE the
    * sum, so per-pair scores are exact integer sums — order-free.
    * Candidate pairs that are already edges are removed by one anti
    * join against the undirected edge set. Returns (u, v, score,
    * n_common) for predicted links.
    */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
                 cap: Int = 64): DataFrame = {
    require(cap >= 2, "adamicAdar: cap must be >= 2")
    val und = undirected(edges, srcCol, dstCol)
      .snapshot() // degree count, wedge join (twice), anti join
    val sym = mirrored(und)
    val deg = sym.groupBy(col("u").as("w")).agg(count(lit(1)).as("deg"))
    // apex-centered adjacency, capped: only apexes with deg <= cap
    // generate wedges, and their weight is fixed per apex
    val apex = sym.select(col("u").as("w"), col("v").as("n"))
      .join(deg.filter(col("deg") <= cap && col("deg") >= 2), "w")
      .withColumn("wgt", floor(lit(1000000.0) / log(col("deg").cast("double")))
        .cast("long"))
      .snapshot()
    // self-join staging, probed by the frame's own size (see
    // triangleCounts) — degree-capped apexes usually stay broadcastable
    val apexStaged = rekeyIf(Staging.isLarge(apex), apex, "w")
    val wedges = apexStaged.select(col("w"), col("n").as("a"), col("wgt"))
      .join(apexStaged.select(col("w"), col("n").as("b")), "w")
      .filter(col("a") < col("b"))
    val scored = wedges.groupBy(col("a").as("u"), col("b").as("v"))
      .agg(sum(col("wgt")).as("score"), count(lit(1)).as("n_common"))
    scored.join(und, Seq("u", "v"), "left_anti")
  }

  /** Degree assortativity coefficient (Newman, PRL 2002): the Pearson
    * correlation of the degrees at the two ends of every edge —
    * positive means hubs link to hubs (social nets), negative means
    * hubs link to leaves (technological/bipartite nets). One number
    * that fingerprints the graph's mixing pattern. Both edge
    * directions enter the sum (the standard undirected convention).
    * Exactness: degrees are exact counts, the five moment sums run in
    * DECIMAL(38,0) (degree products at web scale outgrow BIGINT), and
    * the one Pearson division rounds rd(4). Shape: one degree count +
    * two equi joins + one 1-row rollup — linear in |E|. */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
      .snapshot() // degree count AND both endpoint joins
    val sym = mirrored(und)
    val deg = sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
    val ends = sym
      .join(deg.select(col("id").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), "v")
      .select(col("du").cast("decimal(38,0)").as("x"),
        col("dv").cast("decimal(38,0)").as("y"))
    ends.agg(
        count(lit(1)).cast("decimal(38,0)").as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("m").cast("long").as("n_edge_ends"),
        rd((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          nullifZero(
            sqrt((col("m") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            sqrt((col("m") * col("syy") - col("sy") * col("sy")).cast("double"))),
          4).as("assortativity"))
  }

  /** Bounded-round k-core peeling: repeatedly drop nodes whose degree
    * in the SURVIVING subgraph is below `k` — the classic density
    * filter (Seidman, "Network structure and minimum degree", Social
    * Networks 1983) that crawl/link pipelines run to strip leaf spam
    * before ranking. `rounds` is FIXED like [[pageRankScaled]]'s
    * iters: each round is one partial-aggregable degree count plus
    * two semi-join edge filters, all linear in |E|, and the unrolled
    * chain is checkpointed every other round to keep lineage flat.
    * Peeling removes nodes monotonically, so R rounds give the exact
    * k-core whenever the peel DEPTH (longest cascade) is ≤ R, and a
    * deterministic over-approximation otherwise — same
    * bounded-round semantics the oracle restates by unrolling the
    * identical rounds in SQL. Returns surviving (id, degree). */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int = 4): DataFrame = {
    require(k >= 1 && rounds >= 1, "kCore: k and rounds must be positive")
    var sym = mirrored(edges.select(col(srcCol).as("u"), col(dstCol).as("v")))
      .distinct().snapshot()
    // Round 1's degree frame, hoisted: it is exactly the node-sized
    // frame the semi joins broadcast in the small regime, so its
    // measured size IS the regime probe — no extra work, round 1 needs
    // it anyway.
    val deg1 = sym.groupBy(col("u")).agg(count(lit(1)).as("deg")).snapshot()
    val big = Staging.isLarge(deg1)
    sym = rekeyIf(big, sym, "u") // degree count + first semi join key on u
    for (r <- 1 to rounds) {
      val keep = (if (r == 1) deg1
        else sym.groupBy(col("u")).agg(count(lit(1)).as("deg")))
        .filter(col("deg") >= k)
        .select(col("u").as("kept"))
      val pruned = sym
        .join(keep.select(col("kept").as("u")), "u", "left_semi")
        .join(keep.select(col("kept").as("v")), "v", "left_semi")
        .select(col("u"), col("v"))
      sym = if (r % 2 == 0 && r < rounds) stageIf(big, pruned, "u") else pruned
    }
    sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("degree"))
  }

  /** Local clustering coefficient per node: c_i = 2·T_i / (d_i·(d_i−1))
    * from exact triangle counts ([[triangleCounts]]'s degree-oriented
    * wedge join — never the naive all-wedges form) and the undirected
    * degree — the cohesion score beside the raw triangle lane: a node
    * inside a clique scores 1, a star hub 0. Composition of the two
    * existing rollups; nodes with degree < 2 carry NULL (the
    * coefficient is undefined there), kept so the output covers the
    * full node set. */
  def clusteringCoefficient(edges: DataFrame, srcCol: String,
                            dstCol: String): DataFrame = {
    val deg = undirected(edges, srcCol, dstCol).select(explode(array(col("u"), col("v"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(edges, srcCol, dstCol)
    deg.join(tri, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        rd(lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double") /
          nullifZero((col("degree") * (col("degree") - lit(1L))).cast("double")), 4)
          .as("clustering_coef"))
  }

  /** Strongly connected components of a DIRECTED graph by one bounded
    * forward-backward min-label coloring phase (the FW-BW / coloring
    * family — Fleischer, Hendrickson & Pınar, IPDPS 2000; Orzan 2004;
    * the message-passing form every Pregel-style SCC uses). The
    * directed sibling of [[graft.operators.Dedup]]'s undirected
    * connected components: mutual, not one-way, reachability.
    *
    * Two bounded-round propagations, each linear in |E| per round:
    *   1. FORWARD coloring — `rounds` rounds of
    *      f(v) ← min(f(v), min over in-edges (u,v) of f(u)),
    *      so f_R(v) = the min node id with a ≤R-hop path TO v.
    *   2. BACKWARD confirmation, color-restricted — starting from the
    *      color roots (f(v) = v), `rounds` rounds of
    *      reach(v) ← reach(v) ∨ ∃ edge (v,u): f(u) = f(v) ∧ reach(u),
    *      i.e. v can reach its color root without leaving the color.
    * A node that both inherits its root's color and reaches the root
    * inside the color class is in that root's SCC (mutual paths exist
    * by construction). One phase resolves every SCC that CONTAINS its
    * color root; an SCC downstream of a smaller-id component inherits
    * a color whose root it cannot reach and stays UNRESOLVED — so
    * confirmed components are peeled off and the next phase re-runs on
    * the unresolved remainder (the standard FW-BW iteration), where
    * the masking upstream colors are gone. `phases` is bounded like
    * `rounds` (each phase peels at least every now-minimal component,
    * so 2-3 phases resolve real graphs); whatever remains after the
    * last phase reports singletons. `rounds` must cover a component's
    * internal hop radius (dense co-purchase graphs sit at diameter
    * 3-5). The oracle mirrors the exact same unrolled phases and
    * rounds, so the contract is pinned, not approximate.
    *
    * Scale shape: every round is one equi-join + partial-aggregable
    * grouped min (forward) or a semi-join-shaped grouped OR
    * (backward) — the [[pageRankScaled]] message-passing cost model,
    * lineage checkpointed every other round; each phase adds two
    * semi-joins to restrict the edge set. No transitive closure is
    * ever materialized (the (v, reacher) pair space is |V|² — the
    * cliff this formulation exists to avoid). */
  def stronglyConnected(edges: DataFrame, srcCol: String, dstCol: String,
                        rounds: Int = 6, phases: Int = 2): DataFrame = {
    require(rounds >= 1 && phases >= 1,
      "stronglyConnected: rounds and phases must be positive")
    val (e0, nodes, big) = directed(edges, srcCol, dstCol)
    var e = rekeyIf(big, e0, "src") // forward rounds join edges on src
    var remaining = nodes // phase-1 label init
    val resolved = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var p = 1
    var settled = false
    while (p <= phases && !settled) {
      // forward min-label: f(v) = min id reaching v within `rounds` hops
      // Snapshot every THIRD round, not every other: each eager
      // snapshot is its own job, and on bounded-round loops the fixed
      // job overhead (schedule + checkpoint write) dominates the tiny
      // per-round data — r13 probe: 24 rounds ≈ 0.25-0.5 s each at
      // sf0.1, nearly all overhead. Three chained rounds ≈ 9 operators
      // of lineage, still flat enough for Catalyst.
      var f = remaining.withColumn("f", col("id"))
      for (r <- 1 to rounds) {
        val msg = e.join(f.select(col("id").as("src"), col("f")), "src")
          .groupBy(col("dst").as("id")).agg(min(col("f")).as("mf"))
        val next = f.join(msg, Seq("id"), "left")
          .select(col("id"), least(col("f"), coalesce(col("mf"), col("f"))).as("f"))
        f = if (r % 3 == 0 || r == rounds) stageIf(big, next, "id") else next
      }
      // color-restricted edges: both endpoints share the forward
      // color. Staged in BOTH regimes — measured (r15): un-staging it
      // grew the lane 109 → 124 jobs and +40% wall, because all six
      // backward rounds re-ran the two joins per consuming job.
      val ce = stageIf(big, e
        .join(f.select(col("id").as("src"), col("f").as("fs")), "src")
        .join(f.select(col("id").as("dst"), col("f").as("fd")), "dst")
        .filter(col("fs") === col("fd"))
        .select(col("src"), col("dst")),
        "dst") // backward rounds join the color edges on dst
      // backward confirmation: reach(v) = v reaches its color root
      // through same-color nodes within `rounds` hops
      var reach = f.withColumn("rc", col("f") === col("id"))
      for (r <- 1 to rounds) {
        val msg = ce.join(reach.filter(col("rc")).select(col("id").as("dst")), "dst")
          .select(col("src").as("id")).distinct()
          .withColumn("hit", lit(true))
        val next = reach.join(msg, Seq("id"), "left")
          .select(col("id"), col("f"),
            (col("rc") || coalesce(col("hit"), lit(false))).as("rc"))
        reach = if (r % 3 == 0 || r == rounds) stageIf(big, next, "id") else next
      }
      // confirm + peel are FILTERS over the staged `reach` frame (the
      // r == rounds staging above is the phase's one materialization
      // point), so neither needs its own checkpoint job: the r14
      // profile showed the lane is driver-job-latency bound (~110
      // sequential jobs moving ~6 MB), and the two per-phase
      // confirm/peel checkpoints were pure job count — a filter over
      // cached blocks re-reads them in-process. A filter also
      // preserves the staged frame's pinned hash layout in the big
      // regime (FilterExec keeps child outputPartitioning).
      val confirmed = reach.filter(col("rc"))
        .select(col("id"), col("f").as("scc_id"))
      if (p == phases) {
        // last phase: whatever stayed unresolved reports a singleton
        resolved += confirmed.union(reach.filter(!col("rc"))
          .select(col("id"), col("id").as("scc_id")))
      } else {
        resolved += confirmed
        remaining = reach.filter(!col("rc")).select(col("id"))
        // nothing unresolved: every later phase would run its rounds
        // on empty frames and contribute zero rows — identical result
        // (the oracle's unrolled later phases are no-ops on the same
        // empty remainder), so skip the empty phases
        if (remaining.isEmpty) settled = true
        else e = stageIf(big, e
          .join(remaining.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(remaining.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .select(col("src"), col("dst")),
          "src")
      }
      p += 1
    }
    resolved.reduce(_ union _)
  }

  /** Bounded multi-source BFS hop histogram: min-hop distance from
    * the `nSeeds` smallest node ids (a deterministic landmark set —
    * the standard seed choice for landmark-based distance estimation,
    * Potamias et al., CIKM 2009) to every node within `rounds` hops,
    * rolled up to (hops → node count); unreached nodes report
    * hops = −1. This is the reachability/coverage profile a crawl or
    * link-graph curation pass publishes: how much of the graph sits
    * within r hops of the seed set, and how fast the frontier decays.
    *
    * Scale shape: the frontier relaxation is `rounds` message rounds
    * (edges ⋈ dist on src, grouped min on dst — linear in |E| per
    * round, the [[pageRankScaled]] shape) under the same
    * measured-size staging regime as every loop here: label frames
    * broadcast at small scale, pinned hash layouts past the
    * threshold. Seeds come from ONE bounded `limit` (no driver
    * collect); the final histogram is a partial-aggregable rollup. */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              rounds: Int = 4, nSeeds: Int = 8): DataFrame = {
    require(rounds >= 1 && nSeeds >= 1, "bfsHops: rounds and seeds must be positive")
    val (eK, nodes, big) = symmetric(edges, srcCol, dstCol)
    val seeds = nodes.orderBy("id").limit(nSeeds)
    var dist = seeds.select(col("id"), lit(0L).as("hops")).snapshot()
    for (r <- 1 to rounds) {
      val msg = eK.join(dist.select(col("id").as("u"), col("hops")), "u")
        .select(col("v").as("id"), (col("hops") + 1L).as("hops"))
      val next = dist.union(msg)
        .groupBy("id").agg(min(col("hops")).as("hops"))
      // frontier can only shrink the min — stage every other round
      // (the loop is shallow; lineage stays flat)
      dist = if (r % 2 == 0 || r == rounds) stageIf(big, next, "id") else next
    }
    val reached = dist.groupBy("hops").agg(count(lit(1)).as("n_nodes"))
    val unreached = nodes.join(dist.select(col("id")), Seq("id"), "left_anti")
      .agg(count(lit(1)).as("n_nodes"))
      .select(lit(-1L).as("hops"), col("n_nodes"))
      .filter(col("n_nodes") > 0)
    reached.union(unreached)
      .select(col("hops").cast("long").as("hops"),
        col("n_nodes").cast("long").as("n_nodes"))
  }

  /** Sampled closeness + harmonic centrality: per-seed shortest-path
    * profiles from the `nSeeds` smallest node ids within `rounds`
    * hops — [[bfsHops]]'s frontier machinery with the seed identity
    * CARRIED through the relaxation (state grain (seed, node) instead
    * of node), which is exactly the landmark/pivot scheme large-graph
    * centrality estimation uses (Eppstein & Wang, SODA 2001: sampled
    * sources estimate closeness within ε at O(log n / ε²) seeds).
    * Closeness is the disconnected-safe variant (reached−1)/Σd over
    * the ≤`rounds`-hop ball; harmonic sums 1/d as EXACT scale-12
    * longs (d ≤ rounds, so 1/d quantizes losslessly — no
    * order-dependent double accumulation).
    *
    * Scale shape: state is nSeeds× the node frame (a fixed small
    * factor, 8 here), each round one edges⋈state join + one
    * (seed,node) min rollup under the same measured-size staging
    * regime as every loop here; output is nSeeds rows. */
  def closenessSample(edges: DataFrame, srcCol: String, dstCol: String,
                      rounds: Int = 4, nSeeds: Int = 8): DataFrame = {
    require(rounds >= 1 && nSeeds >= 1,
      "closenessSample: rounds and seeds must be positive")
    val (eK, nodes, big) = symmetric(edges, srcCol, dstCol)
    val seeds = nodes.orderBy("id").limit(nSeeds)
    var dist = seeds.select(col("id").as("seed"), col("id"),
      lit(0L).as("hops")).snapshot()
    for (r <- 1 to rounds) {
      val msg = eK.join(dist.select(col("id").as("u"), col("seed"), col("hops")), "u")
        .select(col("seed"), col("v").as("id"), (col("hops") + 1L).as("hops"))
      val next = dist.union(msg)
        .groupBy("seed", "id").agg(min(col("hops")).as("hops"))
      dist = if (r % 2 == 0 || r == rounds) stageIf(big, next, "id") else next
    }
    // 1/d at scale 12 is exact for d ≤ rounds (≤ 12 digits repeat-free
    // only for d ∈ {1,2,4,5,8,10,…}; for d = 3/6/… the TRUNCATED
    // quantization is itself the two-engine contract: 1e12 div d)
    dist.filter(col("hops") > 0L)
      .groupBy("seed").agg(
        count(lit(1)).as("n_reached"),
        sum(col("hops")).as("sum_hops"),
        sum(expr("1000000000000L div hops")).as("h12"))
      .select(col("seed").cast("long").as("seed"),
        col("n_reached").cast("long").as("n_reached"),
        col("sum_hops").cast("long").as("sum_hops"),
        rd(col("n_reached").cast("double") /
          col("sum_hops").cast("double"), 6).as("closeness"),
        rd(col("h12").cast("double") / 1e12, 6).as("harmonic"))
  }
}
