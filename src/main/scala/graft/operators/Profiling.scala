package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs.{dec38, nullifZero, r4, rd, scaled}
import graft.sources.Staging
import graft.sources.Staging.Snapshottable

/** Data-profiling operators: fixed-width histograms and quantile-tier
  * (ntile) summaries — the "what does this 100 TB column look like"
  * pass that precedes threshold picking for quality filters.
  *
  * Both are one partial-aggregable shuffle over the fact data; the
  * only total-order step (ntile) runs on the already-aggregated
  * dimension keys, never on facts.
  */
object Profiling {

  /** Hourly event-rate spike detection against a trailing baseline:
    * count events per (type, hour), then flag hours whose count
    * exceeds the trailing `lookback`-hour mean by `sigmas` standard
    * deviations — the stream-health monitor that catches producer
    * storms and replay floods before they poison downstream windows.
    *
    * The spike test is ALL-INTEGER: with c = lookback, Σx, Σx² from
    * the trailing ROWS frame, "n − mean > k·σ" rewrites to
    *   (n·c − Σx) > 0  ∧  (n·c − Σx)² > k²·(c·Σx² − (Σx)²)
    * so no engine's sqrt/division enters the decision (k integral).
    * Range contract: exact while (n·c)² < 2⁶³ — hourly per-type counts
    * up to ~10⁸ at lookback 24; beyond that, pre-scale the counts.
    *
    * Shape: one partial-aggregable count shuffle (hour grain), then
    * one bounded ROWS window per type over the already-reduced frame.
    * Only full baselines emit (count-in-frame = lookback), so the
    * first day of a stream never false-positives on a short window.
    */
  def rateAnomaly(events: DataFrame, typeCol: String, tsCol: String,
                  lookback: Int = 24, sigmas: Int = 3): DataFrame = {
    // date_trunc yields an instant TIMESTAMP even for NTZ input; cast
    // back so the hour key stays wall-clock (session TZ is pinned UTC)
    val hourly = events
      .groupBy(col(typeCol).as("event_type"),
        date_trunc("hour", col(tsCol)).cast("timestamp_ntz").as("h"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(-lookback, -1)
    hourly
      .withColumn("c", count(col("n")).over(w))
      .withColumn("sx", sum(col("n")).over(w))
      .withColumn("sxx", sum(col("n") * col("n")).over(w))
      .filter(col("c") === lookback)
      .select(col("event_type"), col("h"), col("n"),
        graft.functions.Funcs.r4(col("sx") / col("c").cast("double")).as("baseline_mean"),
        ((col("n") * col("c") - col("sx")) > 0 &&
          (col("n") * col("c") - col("sx")) * (col("n") * col("c") - col("sx")) >
            lit(sigmas * sigmas) * (col("c") * col("sxx") - col("sx") * col("sx")))
          .as("is_spike"))
  }

  /** Fixed-width histogram of `value` over `[lo, lo + step·nBuckets)`,
    * with underflow/overflow clamped into the edge buckets. The bucket
    * id is a single codegen'd expression evaluated map-side, so the
    * whole histogram is one partial-agg shuffle of ≤ nBuckets rows per
    * map task — the same cost profile as a plain count(*), at any
    * scale.
    *
    * Bucket edges are reported as `lo + bucket·step` — pure double
    * products of the literals, bit-identical across engines (no
    * accumulation, no rounding mode in play).
    */
  def histogram(df: DataFrame, value: Column, lo: Double, step: Double,
                nBuckets: Int): DataFrame = {
    val bucket = least(greatest(floor((value - lit(lo)) / lit(step)), lit(0L)),
      lit((nBuckets - 1).toLong))
    df.select(bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .select(col("bucket"),
        (lit(lo) + col("bucket") * lit(step)).as("lo_edge"),
        (lit(lo) + (col("bucket") + lit(1L)) * lit(step)).as("hi_edge"),
        col("n"))
  }

  /** Per-source corpus profile: the health rollup a data curator
    * watches per ingest — volume, token mass, average document size,
    * language spread — keyed by whatever provenance column the corpus
    * carries (domain, crawl, source). One partial-aggregable shuffle
    * on the source key; token counts are computed map-side from the
    * text (`size(split(...))` is codegen'd, no lambda), so the rollup
    * costs a scan + a groups-sized shuffle at any corpus size. All
    * averages are integer sums with one final division
    * (bit-deterministic, see Funcs.rd). */
  def sourceProfile(df: DataFrame, sourceCol: String, textCol: String,
                    langCol: String): DataFrame = {
    import graft.functions.Funcs.r4
    val toks = size(split(col(textCol), " ")).cast("long")
    df.select(col(sourceCol), col(langCol), toks.as("__t"),
        length(col(textCol)).cast("long").as("__c"))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__t")).as("total_tokens"),
        sum(col("__c")).as("total_chars"),
        countDistinct(col(langCol)).as("n_langs"),
        min(col("__t")).as("min_tokens"),
        max(col("__t")).as("max_tokens"))
      .select(col(sourceCol), col("n_docs"), col("total_tokens"),
        col("total_chars"), col("n_langs"), col("min_tokens"), col("max_tokens"),
        r4(col("total_tokens") / col("n_docs").cast("double")).as("avg_tokens"))
  }

  /** Distribution drift between two corpus snapshots: total-variation
    * distance over shared fixed-width buckets of an integer feature —
    * the deterministic, no-log twin of PSI/KL drift monitors (those
    * need ln(p/q); TVD = ½·Σ|p_i − q_i| ranks the same "how far apart"
    * question and stays EXACT: the numerator Σ|cₐ·N_b − c_b·Nₐ| is pure
    * integer arithmetic in DECIMAL(38,0) — count×count clears int64 at
    * corpus scale — and ONE final division produces the score, so both
    * engines agree bit-for-bit).
    *
    * Scale shape: each side is one partial-aggregable bucket count
    * (≤ nBuckets rows out of each shuffle); totals ride along in the
    * same pass via a grand-total window over the tiny bucket table;
    * the bucket join is nBuckets×nBuckets-bounded. Nothing touches the
    * fact tables twice. */
  def distributionDrift(a: DataFrame, b: DataFrame, value: Column,
                        lo: Long, hi: Long, nBuckets: Int): DataFrame = {
    require(hi > lo && nBuckets > 0, "distributionDrift: bad bucket spec")
    // exact integer bucketing: ((v-lo)·nB) div (hi-lo), clamped
    def buckets(df: DataFrame) = df
      .select(value.cast("long").as("v"))
      .select(least(lit((nBuckets - 1).toLong), greatest(lit(0L),
        expr(s"((v - $lo) * $nBuckets) div ${hi - lo}"))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    val ca = buckets(a).withColumnRenamed("c", "ca").withColumnRenamed("n", "na")
    val cb = buckets(b).withColumnRenamed("c", "cb").withColumnRenamed("n", "nb")
    ca.join(cb, Seq("bucket"), "full_outer")
      .select(
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"),
        max(col("na")).over(Window.partitionBy()).as("na"),
        max(col("nb")).over(Window.partitionBy()).as("nb"))
      .groupBy("na", "nb")
      .agg(sum(when(col("ca") > 0, lit(1L)).otherwise(0L)).as("buckets_a"),
        sum(when(col("cb") > 0, lit(1L)).otherwise(0L)).as("buckets_b"),
        sum(abs(dec38(col("ca")) * dec38(col("nb")) - dec38(col("cb")) * dec38(col("na"))))
          .as("num"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("buckets_a"), col("buckets_b"),
        graft.functions.Funcs.rd(col("num").cast("double") /
          (lit(2.0) * col("na") * col("nb")), 6).as("drift_tvd"))
  }

  /** Generic table profile: per column, row count, null count and
    * EXACT distinct count — the schema-health pass run before trusting
    * a new ingest (nulls where the contract says none, a key column
    * whose distinct count ≠ row count, a category column exploding in
    * cardinality).
    *
    * Scale note: exact multi-column distincts plan through Spark's
    * Expand (input replicated ×|cols|), the documented cost of exact
    * profiling — acceptable as an audit pass. For routine monitoring
    * of wide tables use the mergeable sketch path
    * ([[graft.operators.Sketches.distinctSketchByGroup]]) which trades
    * exactness for one pass and kilobyte state. */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "columnProfile: need at least one column")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"__nn_$c"),
      countDistinct(col(c)).as(s"__nd_$c")))
    val row = df.agg(count(lit(1)).as("__n"), aggs: _*)
    row.select(explode(array(cols.map(c => struct(
        lit(c).as("column"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__nn_$c")).as("n_nulls"),
        col(s"__nd_$c").as("n_distinct"))): _*)).as("p"))
      .select("p.*")
  }

  /** Curation threshold sweep: for each candidate cutoff, how many
    * documents and how much token mass survive `score >= threshold` —
    * the one-pass answer to "where do I set the min-length (or
    * quality) filter", instead of one full scan per candidate.
    *
    * Scale shape: each row maps to the COUNT of thresholds it clears
    * (a codegen'd CASE chain over the sorted literals) — one
    * partial-aggregable shuffle of ≤ |thresholds|+1 bucket rows per
    * map task; the suffix-sum that turns buckets into per-threshold
    * keep totals runs over the thresholds dimension (a bounded
    * literal join), never the corpus. Integer scores keep every
    * comparison exact across engines. */
  def thresholdSweep(df: DataFrame, score: Column, tokens: Column,
                     thresholds: Seq[Long]): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep: need at least one threshold")
    val spark = df.sparkSession
    import spark.implicits._
    val ts = thresholds.distinct.sorted
    val bucket = ts.foldLeft(lit(0)) { (acc, t) =>
      when(score >= t, acc + lit(1)).otherwise(acc) }
    // snapshot the bucket rollup (≤ |thresholds|+1 rows): totals and
    // the threshold join both read it — without this each branch
    // re-runs the corpus scan
    val agg = Staging.snapshot(
      df.select(bucket.as("b"), tokens.as("tk"))
        .groupBy("b").agg(count(lit(1)).as("nd"), sum(col("tk")).as("nt")))
    val totals = agg.agg(sum(col("nd")).as("td"), sum(col("nt")).as("tt"))
    val th = ts.zipWithIndex.map { case (t, i) => (t, i + 1) }.toDF("threshold", "i")
    th.join(agg, col("b") >= col("i"), "left")
      .groupBy("threshold")
      .agg(coalesce(sum(col("nd")), lit(0L)).as("docs_kept"),
        coalesce(sum(col("nt")), lit(0L)).as("tokens_kept"))
      .crossJoin(broadcast(totals))
      .select(col("threshold"), col("docs_kept"), col("tokens_kept"),
        graft.functions.Funcs.rd(col("docs_kept").cast("double") / col("td"), 4)
          .as("doc_frac"),
        graft.functions.Funcs.rd(col("tokens_kept").cast("double") / col("tt"), 4)
          .as("token_frac"))
  }

  /** EXACT global row number over a TOTAL order without a single-task
    * window, for the row-scale `Window.orderBy` sites
    * ([[calibrationBins]], [[TextAnalysis.heapsLaw]]). Regime-gated
    * by [[graft.sources.Staging.isLarge]] on the snapshotted input: a
    * frame under the pin dial goes through ONE bounded-size WindowExec
    * task, cheaper than the range-sample + offset machinery; a larger
    * frame, or one whose size cannot be measured
    * (`graft.staging.reliable=true`), gets [[rangeRank]].
    * `order` must be a total order (include a unique tiebreak).
    *
    * `consume` receives the input columns + `rankCol` (1-based global
    * rank) + `totalCol` (global row count), in that order on both
    * branches; its result is snapshotted, after which the input
    * snapshots are released. The input is snapshotted FIRST: range
    * partitioning SAMPLES its input before exchanging it, so an
    * un-materialized upstream would execute twice (measured r18: +0.57 s
    * on q_calibration's classifier scan), and the snapshot's measured
    * size is the regime probe. */
  private[graft] def globalRank(df: DataFrame, order: Seq[Column],
                                rankCol: String, totalCol: String)(
                                consume: DataFrame => DataFrame): DataFrame = {
    val src = Staging.snapshot(df)
    val (staged, ranked) =
      if (!Staging.isLarge(src))
        (src, src.withColumn(rankCol, row_number().over(Window.orderBy(order: _*)).cast("long"))
          .withColumn(totalCol, count(lit(1)).over(Window.partitionBy())))
      else {
        val rp = rangeStage(src, order)
        Staging.release(src)
        (rp, rangeRank(rp, order, rankCol, totalCol))
      }
    val out = Staging.snapshot(consume(ranked))
    Staging.release(staged)
    out
  }

  /** `df` range-partitioned on `order` with its partition id as
    * `__pid`, snapshotted: range partitioning SAMPLES boundaries, and
    * [[rangeRank]]'s offset branch and rank branch must see identical
    * assignment. */
  private def rangeStage(df: DataFrame, order: Seq[Column]): DataFrame =
    Staging.snapshot(df.repartitionByRange(
      df.sparkSession.sessionState.conf.numShufflePartitions, order: _*)
      .withColumn("__pid", spark_partition_id()))

  /** The distributed global rank over a [[rangeStage]] frame: rank
    * locally per range partition (a partitioned window, fully
    * parallel) and add each partition's cumulative predecessor count
    * from a broadcast of the partitions-sized offset table. Equal keys
    * land in one range partition, so local rank + offset IS
    * `row_number() OVER (ORDER BY order)` at any partition count. The
    * offset windows' total order is over partition ids — bounded by
    * the shuffle-partition setting, not by data. Output: the staged
    * columns without `__pid`, then `rankCol`, then `totalCol`. */
  private def rangeRank(rp: DataFrame, order: Seq[Column],
                        rankCol: String, totalCol: String): DataFrame = {
    val wOff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val off = rp.groupBy("__pid").agg(count(lit(1)).as("__pn"))
      .withColumn("__off", coalesce(sum(col("__pn")).over(wOff), lit(0L)))
      .withColumn(totalCol, sum(col("__pn")).over(Window.partitionBy()))
      .select(col("__pid"), col("__off"), col(totalCol))
    val wLocal = Window.partitionBy("__pid").orderBy(order: _*)
    val cols = rp.columns.filter(_ != "__pid").map(col) :+ col(rankCol) :+ col(totalCol)
    rp.join(broadcast(off), "__pid")
      .withColumn(rankCol, col("__off") + row_number().over(wLocal))
      .select(cols: _*)
  }

  /** Per-key totals bucketed into `tiles` quantile tiers (deciles by
    * default): aggregate `value` per key (exact long — pass a
    * Funcs.scaled view), rank the KEYS on (total desc, key), then roll
    * up per tier.
    *
    * Scale shape — the ranking is always [[rangeRank]]'s distributed
    * form, never a single-task total order, at every input size (the
    * plan PlanSpec pins). Tile assignment is then ntile's closed form
    * over (rank, n): the first n % tiles tiles take ⌈n/tiles⌉ keys, the
    * rest ⌊n/tiles⌋ — identical to `ntile(t) OVER (ORDER BY total DESC,
    * key)` (the q_ntile_deciles oracle pins the equivalence), but a
    * 10⁹-key tier summary never funnels through one WindowExec task. */
  def tierSummary(df: DataFrame, key: String, value: Column,
                  tiles: Int = 10): DataFrame = {
    val order = Seq(col("total").desc, col(key).asc)
    val totals = df.groupBy(col(key)).agg(sum(value).as("total"))
    // ntile closed form (1-based rank r, n rows, t tiles):
    //   big = n div t + 1 sized tiles for the first n % t tiles
    //   r <= (n % t)·big        → tier = ⌈r / big⌉
    //   else (small = n div t)  → tier = n % t + ⌈(r − (n % t)·big) / small⌉
    // (small = 0 ⇒ n < t ⇒ the ELSE branch is unreachable: cut = n)
    rangeRank(rangeStage(totals, order), order, "__rank", "__n")
      .withColumn("tier", expr(
        s"""CASE WHEN __rank <= (__n % $tiles) * (__n div $tiles + 1)
           |  THEN (__rank + __n div $tiles) div (__n div $tiles + 1)
           |  ELSE __n % $tiles +
           |    (__rank - (__n % $tiles) * (__n div $tiles + 1) + __n div $tiles - 1)
           |      div (__n div $tiles)
           |END""".stripMargin).cast("int"))
      .groupBy("tier")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("total")).as("tier_total"),
        min(col("total")).as("tier_floor"),
        max(col("total")).as("tier_ceiling"))
      .orderBy("tier")
  }

  /** Day-of-week × hour activity heatmap: event counts per weekly
    * cell with each cell's share of total traffic — the load-shape
    * readout capacity planning and anomaly baselining start from.
    * One partial-aggregable shuffle to the ≤ 7×24 cell dimension;
    * the total re-enters as a window over those cells. */
  def activityHeatmap(events: DataFrame, tsCol: String): DataFrame = {
    events
      .groupBy(dayofweek(col(tsCol)).as("dow"), hour(col(tsCol)).as("hour"))
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("dow"), col("hour"), col("n"),
        r4(col("n").cast("double") / col("total")).as("frac"))
  }

  /** Fano-factor burstiness per event type: variance-to-mean ratio of
    * the daily event counts — F ≈ 1 for a Poisson arrival process,
    * F ≫ 1 for bursty/clumped traffic (the dispersion gauge behind
    * rate-anomaly thresholds). Exact integer moments over the
    * (type, day) count dimension: F = n·(n·Σc² − (Σc)²) /
    * ((n−1)·(Σc)·n) … collapsed to the one-division form
    * (n·Σc² − (Σc)²) / ((n−1)·Σc) with identical trees both engines.
    *
    * Scale shape: one partial-aggregable reduction to (type, day),
    * one to the type dimension. */
  def fanoFactor(events: DataFrame, typeCol: String,
                 tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(typeCol).as("event_type"), to_date(col(tsCol)).as("d"))
      .agg(count(lit(1)).as("c"))
    daily.groupBy("event_type")
      .agg(count(lit(1)).as("n_days"), sum(col("c")).as("n_events"),
        sum(col("c") * col("c")).as("scc"))
      .filter(col("n_days") > 1)
      .select(col("event_type"), col("n_days"), col("n_events"),
        r4(col("n_events").cast("double") / col("n_days")).as("mean_per_day"),
        r4((col("n_days") * col("scc") - col("n_events") * col("n_events"))
          .cast("double") /
          ((col("n_days") - 1) * col("n_events")).cast("double")).as("fano"))
  }

  /** k-anonymity sweep (Sweeney 2002) over a quasi-identifier tuple:
    * for each k in `ks`, how many equivalence classes (distinct
    * quasi-identifier combinations) fall below size k and how many
    * ROWS those classes expose. The release-gate readout a privacy
    * review of a training corpus starts from — a row is k-anonymous
    * iff at least k−1 other rows share its quasi tuple.
    *
    * Scale shape: ONE partial-aggregable shuffle to the class grain;
    * the sweep then re-aggregates the class-size frame (bounded by
    * distinct quasi tuples, not rows) once per k — a broadcast-sized
    * frame crossed with a literal k dimension, never the corpus. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 ks: Seq[Int] = Seq(2, 5, 10, 20)): DataFrame = {
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .select(col("cnt")).snapshot() // class-size dimension, reused per k
    ks.map { k =>
      classes.agg(
        count(lit(1)).as("n_classes"),
        sum(when(col("cnt") < k, 1L).otherwise(0L)).as("n_violating_classes"),
        sum(when(col("cnt") < k, col("cnt")).otherwise(0L)).as("n_violating_rows"),
        sum(col("cnt")).as("n_rows"))
        .select(lit(k).as("k"), col("n_classes"), col("n_violating_classes"),
          col("n_violating_rows"),
          r4(col("n_violating_rows").cast("double") / col("n_rows")).as("violating_frac"))
    }.reduce(_ unionByName _)
  }

  /** Lorenz concentration curve at tile grain — "the top decile of
    * customers holds X% of revenue": [[tierSummary]]'s distributed
    * closed-form ntile provides the per-tile totals, and this adds
    * the running top-down cumulative share (tier 1 = largest keys).
    * The pointwise companion of [[giniConcentration]]'s single
    * coefficient; exact integer cents until the one share division.
    *
    * Scale shape: tierSummary's shape (no global sort) plus two
    * windows over the TILES dimension (≤ `tiles` rows). */
  def lorenzCurve(df: DataFrame, key: String, valueCents: Column,
                  tiles: Int = 10): DataFrame = {
    val perTile = tierSummary(df, key, valueCents, tiles)
      .select(col("tier"), col("n_keys"), col("tier_total"))
    perTile
      .withColumn("cum_cents", sum(col("tier_total")).over(
        Window.orderBy("tier").rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("grand", sum(col("tier_total")).over(Window.partitionBy()))
      .select(col("tier"), col("n_keys"),
        col("tier_total").as("tier_cents"), col("cum_cents"),
        r4(col("cum_cents").cast("double") / col("grand")).as("cum_share"))
  }

  /** Gini concentration coefficient per group over an exact integer
    * value column (cents): G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) with
    * xᵢ ascending — the closed rank form of the Lorenz-curve area,
    * the standard revenue-concentration gauge ("what share of
    * revenue sits in the top customers"). Every moment is exact
    * integer arithmetic (rank·value products in DECIMAL(38,0) ↔
    * HUGEINT) down to ONE final double division, so the coefficient
    * is bit-portable.
    *
    * Scale shape: the rank runs inside the group partition (window,
    * no global sort) over the ALREADY-REDUCED key grain (one row per
    * key, not per fact), then one partial-aggregable rollup per
    * group. */
  def giniConcentration(df: DataFrame, groupCol: String, keyCol: String,
                        valueCents: Column): DataFrame = {
    val dec = "decimal(38,0)"
    val ranked = df
      .select(col(groupCol).as("grp"), col(keyCol).as("k"), valueCents.as("x"))
      .withColumn("i", row_number().over(
        Window.partitionBy("grp").orderBy(col("x"), col("k"))).cast("long"))
    ranked.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("i").cast(dec) * col("x").cast(dec)).as("six"))
      .select(col("grp").as(groupCol), col("n").as("n_keys"),
        col("sx").as("total_cents"),
        r4((lit(2).cast(dec) * col("six") -
            (col("n") + 1).cast(dec) * col("sx").cast(dec)).cast("double") /
          (col("n").cast(dec) * col("sx").cast(dec)).cast("double")).as("gini"))
  }

  /** Cumulative tail thresholds of the geometric distribution with
    * success p = 1 − e^(−ε), scaled to the 60-bit hash space:
    * threshold k = ⌊e^(−εk)·2^60⌋. Computed ONCE here (the only
    * transcendentals run in Scala at plan/oracle-GENERATION time) and
    * embedded as identical integer literals in both engines, so the
    * runtime mechanism is pure integer comparison. K extends until
    * the tail clears the hash space (threshold 0). */
  def geometricThresholds(epsilon: Double): Seq[Long] = {
    val scale = math.pow(2, 60)
    Iterator.from(1)
      .map(k => math.floor(math.exp(-epsilon * k) * scale).toLong)
      .takeWhile(_ > 0).toSeq
  }

  /** Differentially-private group counts by the two-sided geometric
    * (discrete Laplace) mechanism (Ghosh, Roughgarden & Sundararajan
    * 2012, "Universally Utility-Maximizing Privacy Mechanisms"):
    * noise = G₁ − G₂ with independent geometric draws, which for
    * counting queries (sensitivity 1) is ε-DP and the discrete
    * optimal. The draws are DERANDOMIZED deterministically — each
    * group's two uniforms are 60-bit salted hashes of its key, and a
    * geometric draw is the COUNT OF INTEGER THRESHOLDS
    * ([[geometricThresholds]]) above the uniform — so the whole
    * mechanism is integer-exact, replayable, and oracle-checkable.
    *
    * PRIVACY STATUS — harness demo, NOT an ε-DP release as shipped:
    * the derandomization is only a keyed PRF if the salt is a SECRET
    * key; here the salts ("dp1:"/"dp2:") are public literals (they
    * are embedded verbatim in the DuckDB oracle so the hash gate can
    * replay the noise), so anyone holding the released group key can
    * recompute the noise and recover n_exact exactly. This operator
    * therefore demonstrates the exact-integer MECHANISM (which is the
    * hard engineering part at scale); a real deployment must (a) draw
    * the salt from a secret key held by the curator, under which the
    * release is ε-DP assuming the hash behaves as a PRF on that key,
    * (b) fix the release ONCE per dataset version (re-running with
    * fresh noise leaks through averaging — determinism per key is the
    * privacy-correct practice), and (c) drop the n_exact column,
    * which sits beside the release here purely for the harness.
    *
    * Scale shape: one partial-aggregable count shuffle; the noise is
    * a plan-time literal-array expression over the group keys —
    * dimension-sized, no extra pass. */
  def dpGroupCounts(df: DataFrame, keyCol: String,
                    epsilon: Double = 0.5): DataFrame = {
    import graft.functions.Funcs.hash60
    val thr = geometricThresholds(epsilon)
    val thrLit = array(thr.map(lit): _*)
    def geom(salt: String) = size(filter(thrLit,
      t => hash60(concat(lit(salt), col(keyCol))) < t)).cast("long")
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_exact"))
      .withColumn("noise", geom("dp1:") - geom("dp2:"))
      .select(col(keyCol), col("n_exact"), col("noise"),
        (col("n_exact") + col("noise")).as("n_dp"))
  }

  /** The Benford first-digit expectation log10(1 + 1/d) for d = 1..9,
    * computed once and embedded as identical double literals in both
    * engines (the [[graft.operators.Similarity.ndcgDiscounts]]
    * pattern). */
  val benfordExpected: Seq[Double] =
    (1 to 9).map(d => math.log10(1.0 + 1.0 / d))

  /** Benford's-law first-digit screen (Benford 1938; the standard
    * fabricated-data / broken-feed detector for multi-scale positive
    * amounts): the distribution of leading significant digits against
    * the log10(1 + 1/d) expectation, one row per digit with the
    * signed deviation. Digits come from the exact cent-scaled LONG's
    * decimal string — never from double formatting, which engines
    * disagree on.
    *
    * Scale shape: one partial-aggregable shuffle to the 9-row digit
    * dimension; the total re-enters via a window over those 9 rows. */
  def benfordDigits(df: DataFrame, value: Column): DataFrame = {
    val expectedLit = array(benfordExpected.map(lit): _*)
    val digit = substring(graft.functions.Funcs.scaled(value, 2)
      .cast("string"), 1, 1).cast("int")
    // filter on the SCALED long, not the raw value: a positive value
    // below half a cent scales to 0, whose leading "digit" would be 0
    // and index element_at(expected, 0) — a 1-based-array error. Such
    // sub-cent positives are excluded (no leading significant digit at
    // the cent grain), never crashed on.
    df.filter(graft.functions.Funcs.scaled(value, 2) > 0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .withColumn("total", sum(col("n")).over(Window.partitionBy()))
      .select(col("digit"), col("n"),
        r4(col("n").cast("double") / col("total")).as("frac"),
        r4(element_at(expectedLit, col("digit"))).as("expected"),
        r4(col("n").cast("double") / col("total") -
          element_at(expectedLit, col("digit"))).as("gap"))
  }

  /** Equal-mass reliability bins + per-bin calibration gap (the
    * reliability-diagram / ECE decomposition, Naeini et al. 2015
    * "Obtaining Well Calibrated Probabilities Using Bayesian
    * Binning"): the classifier's score is converted to a rank
    * pseudo-probability p = r/(n−1) (deterministic, no sigmoid), docs
    * are cut into `bins` equal-mass bins by INTEGER rank arithmetic
    * (r·bins DIV (n−1) — no float binning edge cases), and each bin
    * reports mean p vs the empirical positive rate; ECE is the
    * n-weighted |gap| sum, left to the consumer. mean p is exact-
    * integer: Σr / ((n−1)·count) — rank sums never touch doubles
    * until the one final division.
    *
    * Scale note (r18): the global rank runs on [[globalRank]] — a
    * doc-grain frame past the pin dial, or of unmeasured size, is never
    * funneled through a single WindowExec task (rank values are
    * identical on both branches). */
  def calibrationBins(df: DataFrame, idCol: String, scoreCol: String,
                      labelCol: String, bins: Int = 10): DataFrame = {
    val denom = greatest(col("nn") - 1, lit(1L)) * col("n_docs")
    globalRank(
      df.select(col(idCol), col(scoreCol), col(labelCol).cast("long").as("pos")),
      Seq(col(scoreCol), col(idCol)), "rn", "nn")(
      _.withColumn("r0", (col("rn") - 1).cast("long"))
        .withColumn("bin", least(expr(s"(r0 * $bins) DIV greatest(nn - 1, 1)"),
          lit(bins - 1).cast("long")).cast("int"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("r0")).as("sum_r"),
          sum(col("pos")).as("n_pos"), max(col("nn")).as("nn")))
      .select(col("bin"), col("n_docs"),
        r4(col("sum_r").cast("double") / denom).as("mean_p"),
        r4(col("n_pos").cast("double") / col("n_docs")).as("pos_rate"),
        r4(col("sum_r").cast("double") / denom -
          col("n_pos").cast("double") / col("n_docs")).as("gap"))
  }

  /** Distinct l-diversity (Machanavajjhala et al. 2007) companion of
    * [[kAnonymity]]: per quasi-identifier class, the number of
    * DISTINCT sensitive values — k-anonymity alone is defeated by a
    * homogeneous class (everyone in it shares the sensitive value).
    * One summary row: class count, the minimum diversity, how many
    * classes are fully homogeneous (l = 1), and the fraction of rows
    * in them.
    *
    * Scale shape: one distinct-pair reduction, one class-grain
    * aggregate, one 1-row rollup — all partial-aggregable. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String): DataFrame = {
    val q = quasiCols.map(col)
    val perClass = df.groupBy(q: _*)
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col(sensitiveCol)).as("l"))
    perClass.agg(
      count(lit(1)).as("n_classes"),
      min(col("l")).as("min_diversity"),
      sum(when(col("l") === 1, 1L).otherwise(0L)).as("n_homogeneous"),
      sum(when(col("l") === 1, col("cnt")).otherwise(0L)).as("n_exposed_rows"),
      sum(col("cnt")).as("n_rows"))
      .select(col("n_classes"), col("min_diversity"), col("n_homogeneous"),
        col("n_exposed_rows"),
        r4(col("n_exposed_rows").cast("double") / col("n_rows")).as("exposed_frac"))
  }

  /** Cramér's V association between two categorical columns, per
    * group (Cramér, *Mathematical Methods of Statistics* 1946) — the
    * normalized-χ² "are these two dimensions related" screen a data
    * profiler runs across column pairs before trusting a stratified
    * split or a segment rollup ([[q_chi2_features]] is the per-term
    * feature-selection form; this is the column-pair form with the
    * V normalization that makes strengths comparable across grids).
    * χ² runs over the FULL level grid including zero cells (a zero
    * cell still contributes its expected count): per cell,
    * (o·N − nₐ·n_b)² / (N·nₐ·n_b) with the o·N product AND the
    * square both in DECIMAL(38,0) (o·N alone passes 2⁶³ once a
    * group holds ~3e9 rows; the square passes it at ~1e5 — neither
    * may touch LONG arithmetic), each contribution quantized
    * to a scale-9 long ([[TextAnalysis.jsDivergence]]'s device), so
    * the sum is order-free; V = √(χ²/(N·min(r−1, c−1))).
    *
    * Scale shape: one grouped pass for cells + two margin rollups
    * (all partial-aggregable at fact grain), then everything else
    * lives on the (group × r × c) GRID — a bounded dimension frame,
    * broadcast-joined. No fact-side windows, no fact re-sorts. */
  def cramersV(df: DataFrame, groupCol: String, aCol: String,
               bCol: String): DataFrame = {
    val base = df
      .select(col(groupCol).as("grp"), col(aCol).as("a"), col(bCol).as("b"))
      .snapshot() // feeds cells + both margins + totals
    val cells = base.groupBy("grp", "a", "b").agg(count(lit(1)).as("o"))
    val ra = base.groupBy("grp", "a").agg(count(lit(1)).as("na"))
    val cb = base.groupBy("grp", "b").agg(count(lit(1)).as("nb"))
    val tot = base.groupBy("grp").agg(count(lit(1)).as("n"))
    val diff = dec38(col("o")) * dec38(col("n")) - dec38(col("na")) * dec38(col("nb"))
    val contrib = (diff * diff).cast("double") /
      (dec38(col("n")) * dec38(col("na")) * dec38(col("nb"))).cast("double")
    val grid = ra.join(cb, "grp").join(broadcast(tot), "grp")
      .join(cells, Seq("grp", "a", "b"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .withColumn("c9", scaled(contrib, 9))
    val rdim = ra.groupBy("grp").agg(count(lit(1)).as("r"))
    val cdim = cb.groupBy("grp").agg(count(lit(1)).as("c"))
    val chi = grid.groupBy("grp")
      .agg(max(col("n")).as("n"), sum(col("c9")).as("chi9"))
      .join(broadcast(rdim), "grp").join(broadcast(cdim), "grp")
    val dof = nullifZero(
      (col("n") * least(col("r") - 1L, col("c") - 1L)).cast("double"))
    chi.select(col("grp"), col("n").cast("long").as("n"),
      col("r").cast("long").as("n_levels_a"),
      col("c").cast("long").as("n_levels_b"),
      rd(col("chi9").cast("double") / 1e9, 4).as("chi2"),
      rd(
        sqrt(col("chi9").cast("double") / 1e9 / dof), 6).as("cramers_v"))
  }

  /** Mutual information between two categorical columns, per group
    * (Shannon 1948; the feature-selection form in Cover & Thomas
    * ch. 2) — the information-theoretic sibling of [[cramersV]]:
    * V normalizes χ²'s quadratic deviation, MI measures the actual
    * bits (here nats) one column carries about the other, which is
    * the quantity a feature-selection or leakage screen actually
    * budgets. NMI = 2·MI/(H_a+H_b) makes it comparable across grids.
    *
    * Exactness: only OCCUPIED cells contribute (p·ln(…) with p = 0 is
    * 0, so no zero-cell grid is needed — unlike χ²); each cell's
    * (c/N)·ln(c·N/(n_a·n_b)) and each margin's −(n/N)·ln(n/N) are
    * quantized to scale-12 longs ([[TextAnalysis.jsDivergence]]'s
    * device), so all three sums are order-free integers and MI/H/NMI
    * are fixed double trees.
    *
    * Scale shape: one grouped cell rollup + two margin rollups (all
    * partial-aggregable at fact grain), then everything lives on the
    * occupied-cell frame with the 1-row-per-group totals broadcast. */
  def mutualInfo(df: DataFrame, groupCol: String, aCol: String,
                 bCol: String): DataFrame = {
    val base = df
      .select(col(groupCol).as("grp"), col(aCol).as("a"), col(bCol).as("b"))
      .snapshot() // feeds cells + both margins + totals
    val cells = base.groupBy("grp", "a", "b").agg(count(lit(1)).as("c"))
    val ra = base.groupBy("grp", "a").agg(count(lit(1)).as("na"))
    val cb = base.groupBy("grp", "b").agg(count(lit(1)).as("nb"))
    val tot = base.groupBy("grp").agg(count(lit(1)).as("nn"))
    val contrib = col("c").cast("double") / col("nn").cast("double") *
      log(col("c").cast("double") * col("nn").cast("double") /
        (col("na").cast("double") * col("nb").cast("double")))
    val mi = cells
      .join(ra, Seq("grp", "a"))
      .join(cb, Seq("grp", "b"))
      .join(broadcast(tot), "grp")
      .withColumn("m12", scaled(contrib, 12))
      .groupBy("grp").agg(count(lit(1)).as("n_cells"), sum(col("m12")).as("mi12"))
    def entropy(margin: DataFrame, cnt: String, out: String) = margin
      .join(broadcast(tot), "grp")
      .withColumn("h12", scaled(-(col(cnt).cast("double") / col("nn").cast("double")) *
        log(col(cnt).cast("double") / col("nn").cast("double")), 12))
      .groupBy("grp").agg(sum(col("h12")).as(out))
    mi.join(entropy(ra, "na", "ha12"), "grp")
      .join(entropy(cb, "nb", "hb12"), "grp")
      .join(broadcast(tot), "grp")
      .select(col("grp").as(groupCol), col("nn").cast("long").as("n"),
        col("n_cells").cast("long").as("n_cells"),
        rd(col("mi12").cast("double") / 1e12, 6).as("mi_nats"),
        rd(col("ha12").cast("double") / 1e12, 6).as("h_a"),
        rd(col("hb12").cast("double") / 1e12, 6).as("h_b"),
        rd(lit(2.0) * col("mi12").cast("double") /
          nullifZero((col("ha12") + col("hb12")).cast("double")), 6).as("nmi"))
  }

  /** t-closeness audit over an ORDERED sensitive attribute (Li, Li &
    * Venkatasubramanian, ICDE 2007) — the step past [[kAnonymity]]
    * (class size) and [[lDiversity]] (distinct sensitive values):
    * a class can be large and diverse yet still leak because its
    * sensitive DISTRIBUTION deviates from the corpus (all its values
    * sit in the top buckets). Distance is the paper's ordered-EMD:
    * EMD(P, Q) = (1/(m−1)) Σᵢ |ΣΡ_≤i − ΣQ_≤i| over the m ordered
    * values; a class with EMD > t violates.
    *
    * Exactness: class/global counts are exact longs; the two
    * cumulative shares per grid row are each ONE double division,
    * their absolute difference quantized to a scale-9 long (the
    * jsDivergence device), so the per-class sum is order-free; the
    * EMD and the violation flag are fixed trees over those longs.
    *
    * Scale shape: two partial-aggregable rollups at fact grain (class
    * × value, value), then everything lives on the classes × m GRID —
    * a bounded dimension frame (the value dimension broadcast), with
    * the cumulative windows partitioned BY CLASS over ≤m rows each —
    * never a fact-side window. */
  def tCloseness(df: DataFrame, qiCols: Seq[String], valueCol: Column,
                 t: Double = 0.2): DataFrame = {
    require(qiCols.nonEmpty, "tCloseness: at least one quasi-identifier")
    val base = df.select(
      concat_ws("", qiCols.map(col): _*).as("cls"),
      valueCol.cast("long").as("v"))
      .filter(col("v").isNotNull)
      .snapshot() // feeds the class grid AND the global margin
    val cells = base.groupBy("cls", "v").agg(count(lit(1)).as("c"))
    val classes = base.groupBy("cls").agg(count(lit(1)).as("nc"))
    val values = base.groupBy("v").agg(count(lit(1)).as("q"))
    val total = base.agg(count(lit(1)).as("nn"))
    val grid = classes.crossJoin(broadcast(values))
      .join(cells, Seq("cls", "v"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("cp", sum(col("c")).over(
        Window.partitionBy("cls").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("cq", sum(col("q")).over(
        Window.partitionBy("cls").orderBy("v")
          .rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(broadcast(total))
    val contrib = abs(col("cp").cast("double") / col("nc").cast("double") -
      col("cq").cast("double") / col("nn").cast("double"))
    val perClass = grid.withColumn("d9", scaled(contrib, 9))
      .groupBy("cls")
      .agg(max(col("nc")).as("nc"), count(lit(1)).as("m"), sum(col("d9")).as("sd"))
      .withColumn("emd", col("sd").cast("double") /
        nullifZero((col("m") - lit(1L)).cast("double")) / 1e9)
    perClass.agg(
      count(lit(1)).as("n_classes"),
      max(col("m")).as("m_values"),
      max(col("emd")).as("max_emd"),
      sum(when(col("emd") > t, 1L).otherwise(0L)).as("n_violating"),
      sum(when(col("emd") > t, col("nc")).otherwise(0L)).as("n_exposed_rows"))
      .select(col("n_classes").cast("long").as("n_classes"),
        col("m_values").cast("long").as("m_values"),
        rd(col("max_emd"), 6).as("max_emd"),
        col("n_violating").cast("long").as("n_violating"),
        col("n_exposed_rows").cast("long").as("n_exposed_rows"))
  }

  /** Generalized-entropy inequality indices over per-key totals
    * (Theil, *Economics and Information Theory* 1967; Atkinson, JET
    * 1970): Theil-T = (1/n)Σ r·ln r with r = x/μ, MLD (Theil-L) =
    * −(1/n)Σ ln r, and Atkinson(ε=1) = 1 − exp(−MLD) = 1 − gm/μ —
    * the decomposable complements of [[giniConcentration]]'s rank
    * form (GE indices split into within/between-group terms exactly;
    * Gini does not). Zero/negative keys are excluded (ln undefined —
    * the standard GE-index domain), with the excluded count reported.
    *
    * Exactness: per-key contributions r·ln r and ln r are quantized
    * to scale-12/scale-9 longs ([[TextAnalysis.jsDivergence]]'s
    * device), so both sums are order-free integers; the index trees
    * are fixed double expressions over those longs, mirrored
    * verbatim. Scale shape: one partial-aggregable key rollup, one
    * 1-row broadcast of (n, Σx), one final 1-row rollup — no sort,
    * no pair space, key-count-independent memory. */
  def theilInequality(df: DataFrame, keyCol: String,
                      valueCents: Column): DataFrame = {
    val per = df.groupBy(col(keyCol).as("k")).agg(sum(valueCents).as("x"))
      .snapshot() // feeds totals, the excluded count, and the contribution pass
    val tot = per.filter(col("x") > 0)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
    val excluded = per.filter(!(col("x") > 0))
      .agg(count(lit(1)).as("n_excluded"))
    val r = col("x").cast("double") * col("n").cast("double") /
      col("sx").cast("double")
    val g = per.filter(col("x") > 0)
      .crossJoin(broadcast(tot))
      .withColumn("t12", scaled(r * log(r), 12))
      .withColumn("l9", scaled(log(r), 9))
      .groupBy()
      .agg(max(col("n")).as("n"), max(col("sx")).as("sx"),
        sum(col("t12")).as("st"), sum(col("l9")).as("sl"))
    g.crossJoin(broadcast(excluded))
      .select(col("n").cast("long").as("n_keys"),
        col("n_excluded").cast("long").as("n_excluded"),
        col("sx").cast("long").as("total_cents"),
        rd(col("st").cast("double") / col("n").cast("double") / 1e12, 6)
          .as("theil_t"),
        rd(-col("sl").cast("double") / col("n").cast("double") / 1e9, 6)
          .as("mld"),
        rd(lit(1.0) - exp(col("sl").cast("double") /
          col("n").cast("double") / 1e9), 6).as("atkinson_1"))
  }

  /** 1-D Wasserstein (earth-mover) distance between each source's
    * document-length distribution and the whole corpus (Vaserstein
    * 1969; the W₁ = ∫|F_a − F_b| dx identity is Vallender, Theory
    * Probab. Appl. 1974) — the drift gauge that sees HOW FAR mass
    * moved, where [[distributionDrift]]'s TVD and the KS statistic
    * only see how much: a source whose docs are uniformly 10 tokens
    * longer scores W₁ = 10 exactly, while a bucketed TVD saturates.
    * Lengths are integer token counts, so the CDF-difference integral
    * is a finite sum over the merged support and EXACT:
    * W₁ = Σ_k |Fₐ(x_k) − F_c(x_k)|·(x_{k+1} − x_k) with the numerator
    * |cumₐ·N − cum_c·nₐ| in DECIMAL(38,0) (count×count clears int64
    * at corpus scale) and ONE final division by nₐ·N.
    *
    * Scale shape: one doc-grain pass to (source, length) cells, then
    * everything runs on the LENGTHS×SOURCES dimension grid — the
    * corpus CDF is one window over distinct lengths, the per-source
    * CDF is a window over the grid (zeros kept via left join), both
    * bounded by support size, never by corpus size. */
  def wassersteinDrift(docs: DataFrame, sourceCol: String,
                       textCol: String): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    val cells = docs
      .select(col(sourceCol).as("source"),
        size(filter(split(col(textCol), " "), t => t =!= "")).cast("long").as("len"))
      .repartition(parts, col("source"), col("len"))
      .groupBy("source", "len").agg(count(lit(1)).as("c"))
      .snapshot() // feeds the corpus CDF, the totals, AND the grid
    val srcTotals = cells.groupBy("source").agg(sum(col("c")).as("n_s"))
    val corp = cells.groupBy("len").agg(sum(col("c")).as("c_all"))
      .withColumn("cum_all", sum(col("c_all")).over(
        Window.orderBy("len").rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("nn", sum(col("c_all")).over(Window.partitionBy()))
      .withColumn("delta", lead(col("len"), 1).over(Window.orderBy("len")) -
        col("len"))
      .filter(col("delta").isNotNull) // past max(len) both CDFs are 1
    val grid = corp.crossJoin(broadcast(srcTotals))
      .join(cells, Seq("source", "len"), "left")
      .withColumn("cum_s", sum(coalesce(col("c"), lit(0L))).over(
        Window.partitionBy("source").orderBy("len")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    grid.groupBy("source")
      .agg(max(col("n_s")).as("n_docs"), max(col("nn")).as("nn"),
        sum(abs(dec38(col("cum_s")) * col("nn") - dec38(col("cum_all")) * col("n_s")) *
          col("delta")).as("num"))
      .select(col("source"), col("n_docs").cast("long").as("n_docs"),
        rd(col("num").cast("double") /
          (col("n_docs").cast("double") * col("nn").cast("double")), 6)
          .as("w1_tokens"))
  }
}
