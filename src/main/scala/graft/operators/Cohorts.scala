package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Funcs._
import graft.sources.Staging.Snapshottable

/** Cohort / retention analytics over an event stream. */
object Cohorts {

  /** Day-grain N-day retention: for each activity date, how many of
    * that day's distinct active users were also active exactly
    * `horizonDays` later. The standard product-analytics cohort curve,
    * here as one deterministic relational pipeline.
    *
    * Scale shape: the raw event stream reduces FIRST to the distinct
    * (user, day) grain — one partial-aggregable shuffle, after which
    * everything operates on the reduced frame (≤ users × days rows,
    * orders of magnitude under the event count). Retention is a
    * LEFT SEMI self-join on (user, day − horizon): semi joins forward
    * no payload and short-circuit per match, and both sides share the
    * (user_id, d) key so one co-partitioning serves join and counts.
    * All-integer counts + one final division — oracle-exact.
    */
  /** Strict sequential funnel: step i counts a user only if their
    * EARLIEST qualifying event strictly follows their step-(i−1) time
    * — "viewed, then clicked after viewing, then purchased after
    * clicking", the standard conversion-funnel semantics (min-after
    * chaining, not mere per-step membership).
    *
    * Scale shape: the chain reduces to the per-user grain at every
    * step (min-timestamp grouped agg, partial-aggregable), each stage
    * is snapshotted once (it feeds both the next join and its own
    * count), and each step's join filters the event stream to ONE
    * event type map-side before shuffling. Steps are a driver-side
    * loop over a handful of literals — jobs, not state.
    *
    * Output: (step, step_name, n_users) — one row per funnel step.
    */
  def funnel(events: DataFrame, userCol: String, typeCol: String, tsCol: String,
             steps: Seq[String]): DataFrame =
    funnelWithin(events, userCol, typeCol, tsCol, steps, maxGapHours = 0)

  /** [[funnel]] with a bounded conversion window: each step must
    * additionally land WITHIN `maxGapHours` of the previous step's
    * time (0 = unbounded) — the form real funnels publish, since an
    * unbounded "purchased 2 years after clicking" conversion is noise.
    * Same per-user min-after chaining and scale shape. */
  def funnelWithin(events: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, steps: Seq[String],
                   maxGapHours: Int): DataFrame = {
    require(steps.nonEmpty, "funnel: need at least one step")
    require(maxGapHours >= 0, s"funnel: maxGapHours must be >= 0, got $maxGapHours")
    val ev = events.select(col(userCol).as("user_id"), col(typeCol).as("et"),
      col(tsCol).as("ts"))
    var cur = ev.filter(col("et") === steps.head)
      .groupBy("user_id").agg(min(col("ts")).as("t"))
      .snapshot()
    val frames = scala.collection.mutable.ArrayBuffer(cur)
    steps.tail.foreach { s =>
      val within =
        if (maxGapHours == 0) lit(true)
        else col("ts") <= col("t") + expr(s"INTERVAL $maxGapHours HOURS")
      cur = cur.join(ev.filter(col("et") === s), "user_id")
        .filter(col("ts") > col("t") && within)
        .groupBy("user_id").agg(min(col("ts")).as("t"))
        .snapshot()
      frames += cur
    }
    steps.zip(frames).zipWithIndex.map { case ((name, f), i) =>
      f.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(name).as("step_name"), col("n_users"))
    }.reduce(_ unionByName _)
  }

  def cohortRetention(events: DataFrame, userCol: String, tsCol: String,
                      horizonDays: Int = 7): DataFrame = {
    val active = events
      .select(col(userCol).as("user_id"), to_date(col(tsCol)).as("d"))
      .distinct()
    // user active at d + horizon, re-keyed to the cohort day it proves
    val future = active.select(col("user_id"),
      date_sub(col("d"), horizonDays).as("d"))
    val retained = active.join(future, Seq("user_id", "d"), "left_semi")
      .groupBy("d").agg(count(lit(1)).as("n_retained"))
    active.groupBy("d").agg(count(lit(1)).as("n_active"))
      .join(retained, Seq("d"), "left")
      .select(col("d").as("cohort_date"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        r4(coalesce(col("n_retained"), lit(0L)) / col("n_active").cast("double"))
          .as("retention_rate"))
  }

  /** Event-path mining: the most frequent (from → to) event-type
    * transitions inside gap-sessionized user journeys — the
    * "where do users actually go next" readout behind funnel design
    * (funnels test a HYPOTHESIZED path; this surfaces the observed
    * ones). Sessions cut on inactivity > `gapMinutes` (the same
    * cumulative-boundary islands form as the session-window
    * operators); transitions pair each event with its successor
    * INSIDE the session via lead(); top-k by (count DESC, pair ASC).
    *
    * Scale shape: two window passes inside the (user) partition, one
    * partial-aggregable count shuffle to the transition-type
    * DIMENSION (|event types|² rows at most), and the rank runs on
    * that dimension — never on events. */
  def eventPaths(events: DataFrame, userCol: String, typeCol: String,
                 tsCol: String, idCol: String = "event_id",
                 gapMinutes: Int = 30, k: Int = 10): DataFrame = {
    val w = Window.partitionBy(col(userCol)).orderBy(col(tsCol), col(idCol))
    val gapUs = gapMinutes * 60L * 1000000L
    val sessioned = events
      .withColumn("us", unix_micros(col(tsCol).cast("timestamp")))
      .withColumn("new_s",
        when(col("us") - lag(col("us"), 1).over(w) > gapUs, 1L)
          .otherwise(lit(0L)))
      .withColumn("sess", sum(col("new_s")).over(w))
    val wp = Window.partitionBy(col(userCol), col("sess"))
      .orderBy(col("us"), col(idCol))
    sessioned
      .withColumn("to_type", lead(col(typeCol), 1).over(wp))
      .filter(col("to_type").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("from_type").asc, col("to_type").asc)))
      .filter(col("rank") <= k)
  }

  /** Discrete-time churn hazard table (the Kaplan-Meier life-table
    * counts, day grain): per observed lifetime duration t, how many
    * users' observation ended at t (n_ending), how many of those
    * actually CHURNED (n_churned — users still active in the final
    * 7 days of the window are right-censored, not churned), the risk
    * set n_at_risk = users with duration ≥ t, and the discrete hazard
    * n_churned/n_at_risk. The survival curve is the running product
    * of (1 − hazard) — left to the consumer (a float product; the
    * exact integer counts are the oracle-stable statement).
    *
    * Scale shape: one partial-aggregable reduction to the user grain,
    * a 1-row global max broadcast back, one reduction to the duration
    * DIMENSION (bounded by the calendar span), and the reverse
    * cumulative risk set as a window over that dimension — never over
    * users. */
  def churnHazard(events: DataFrame, userCol: String, tsCol: String,
                  censorDays: Int = 7): DataFrame = {
    val d = to_date(col(tsCol))
    val perUser = events.groupBy(col(userCol).as("user_id"))
      .agg(min(d).as("first_d"), max(d).as("last_d"))
    val dmax = perUser.agg(max(col("last_d")).as("dmax"))
    val byDur = perUser.crossJoin(broadcast(dmax))
      .select(datediff(col("last_d"), col("first_d")).as("duration"),
        (datediff(col("dmax"), col("last_d")) >= censorDays).cast("long")
          .as("churned"))
      .groupBy("duration")
      .agg(count(lit(1)).as("n_ending"), sum(col("churned")).as("n_churned"))
    val wRev = Window.orderBy(col("duration").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    byDur
      .withColumn("n_at_risk", sum(col("n_ending")).over(wRev))
      .select(col("duration"), col("n_at_risk"), col("n_ending"),
        col("n_churned"),
        r4(col("n_churned").cast("double") / col("n_at_risk")).as("hazard"))
  }

  /** Sample-ratio-mismatch guardrail (the first sanity check of any
    * A/B readout — Fabijan et al. 2019 "Diagnosing Sample Ratio
    * Mismatch"): for a 50/50 split by user parity, the two-cell χ²
    * statistic collapses EXACTLY to (n₀−n₁)²/n — pure integer
    * arithmetic down to one division — and the flag compares it to
    * the χ²₁ 95% critical value 3.841 (embedded literal; a real SRM
    * at scale produces χ² in the hundreds, so the literal's precision
    * is immaterial). One partial-aggregable pass over distinct
    * users. */
  def sampleRatioCheck(events: DataFrame, userCol: String): DataFrame = {
    events.select(col(userCol).as("user_id")).distinct()
      .agg(count(lit(1)).as("n_users"),
        sum(when(col("user_id") % 2 === 0, 1L).otherwise(0L)).as("n_v0"),
        sum(when(col("user_id") % 2 === 1, 1L).otherwise(0L)).as("n_v1"))
      .select(col("n_users"), col("n_v0"), col("n_v1"),
        r4((col("n_v0") - col("n_v1")).cast("double") *
          (col("n_v0") - col("n_v1")).cast("double") /
          col("n_users")).as("chi2"),
        ((col("n_v0") - col("n_v1")).cast("double") *
          (col("n_v0") - col("n_v1")).cast("double") /
          col("n_users") > 3.841).as("srm_flag"))
  }

  /** Power analysis / minimum detectable effect for the two-sample
    * mean test at the CURRENT sample sizes (the "is this experiment
    * even worth running" readout): MDE = (z_{α/2}+z_β)·√(s²/n₀+s²/n₁)
    * with the conventional α=0.05 two-sided, 80% power constant
    * z₁.₉₆ + z₀.₈₄ ≈ 2.8016 embedded as ONE literal (the z-quantiles
    * are the only transcendentals and they run at compile time —
    * same discipline as the DP thresholds). s² is the pooled sample
    * variance of the post-period revenue from exact integer moments.
    * Output: one row (n0, n1, pooled_sd, mde_abs, mde_rel) — mde_rel
    * relative to the pooled mean.
    *
    * Scale shape: one per-user reduction + one 1-row moment
    * aggregate. */
  def minimumDetectableEffect(events: DataFrame, userCol: String,
                              tsCol: String, typeCol: String,
                              valueCol: String,
                              eventType: String = "purchase"): DataFrame = {
    val dec = "decimal(38,0)"
    // z_{0.975} + z_{0.80} for 5% two-sided alpha at 80% power —
    // the textbook constant, embedded identically in the oracle
    val z = 1.959963984540054 + 0.8416212335729143
    val d = to_date(col(tsCol))
    val bounds = events.agg(min(d).as("dmin"), max(d).as("dmax"))
    val perUser = events.crossJoin(broadcast(bounds))
      .withColumn("cut", date_add(col("dmin"),
        floor(datediff(col("dmax"), col("dmin")) / 2).cast("int")))
      .groupBy(col(userCol).as("user_id"))
      .agg(sum(when(col(typeCol) === eventType && d >= col("cut"),
        scaled(col(valueCol), 2)).otherwise(0L)).as("y"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))
    val m = perUser.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
      count(lit(1)).as("n"), sum(col("y")).as("s"),
      sum(col("y").cast(dec) * col("y").cast(dec)).as("ss"))
    val varP = (col("n").cast(dec) * col("ss") -
      col("s").cast(dec) * col("s").cast(dec)).cast("double") /
      (col("n").cast("double") * (col("n") - 1).cast("double"))
    val mde = lit(z) * sqrt(varP / col("n0") + varP / col("n1"))
    val meanP = col("s").cast("double") / col("n")
    m.select(col("n0"), col("n1"),
      rd(sqrt(varP) / 100.0, 4).as("pooled_sd"),
      rd(meanP / 100.0, 4).as("mean_rev"),
      rd(mde / 100.0, 4).as("mde_abs"),
      rd(mde / meanP, 4).as("mde_rel"))
  }

  /** Covariate-balance check by standardized mean difference
    * (Austin 2009; |SMD| < 0.1 is the conventional balanced bar):
    * for the user-parity variants, SMD of the PRE-period purchase
    * revenue — the check that belongs BEFORE any causal readout
    * (CUPED assumes the covariate is unaffected by assignment;
    * imbalance here says the split itself is suspect, complementing
    * [[sampleRatioCheck]]'s count-level test with a value-level one).
    * Pooled-SD denominator √((s²₀+s²₁)/2); all moments exact
    * integer (cents, DECIMAL(38,0) ↔ HUGEINT) to the final
    * sqrt/divide.
    *
    * Output: one row (n_0, n_1, mean_0, mean_1, smd, balanced). */
  def covariateBalance(events: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, valueCol: String,
                       eventType: String = "purchase"): DataFrame = {
    val dec = "decimal(38,0)"
    val d = to_date(col(tsCol))
    val bounds = events.agg(min(d).as("dmin"), max(d).as("dmax"))
    val perUser = events.crossJoin(broadcast(bounds))
      .withColumn("cut", date_add(col("dmin"),
        floor(datediff(col("dmax"), col("dmin")) / 2).cast("int")))
      .groupBy(col(userCol).as("user_id"))
      .agg(sum(when(col(typeCol) === eventType && d < col("cut"),
        scaled(col(valueCol), 2)).otherwise(0L)).as("x"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))
    val m = perUser.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("variant") === 0, col("x")).otherwise(0L)).as("s0"),
      sum(when(col("variant") === 1, col("x")).otherwise(0L)).as("s1"),
      sum(when(col("variant") === 0,
        col("x").cast(dec) * col("x").cast(dec)).otherwise(lit(0).cast(dec)))
        .as("ss0"),
      sum(when(col("variant") === 1,
        col("x").cast(dec) * col("x").cast(dec)).otherwise(lit(0).cast(dec)))
        .as("ss1"))
    // n-scaled sample variances share the cents² unit with the means'
    // difference once both divide out — the trees mirror the oracle
    val v0 = (col("n0").cast(dec) * col("ss0") -
      col("s0").cast(dec) * col("s0").cast(dec)).cast("double") /
      (col("n0").cast("double") * (col("n0") - 1).cast("double"))
    val v1 = (col("n1").cast(dec) * col("ss1") -
      col("s1").cast(dec) * col("s1").cast(dec)).cast("double") /
      (col("n1").cast("double") * (col("n1") - 1).cast("double"))
    val md = col("s0").cast("double") / col("n0") -
      col("s1").cast("double") / col("n1")
    val smd = md / sqrt((v0 + v1) / 2.0)
    m.select(col("n0"), col("n1"),
      rd(col("s0").cast("double") / col("n0") / 100.0, 4).as("mean_0"),
      rd(col("s1").cast("double") / col("n1") / 100.0, 4).as("mean_1"),
      rd(smd, 4).as("smd"),
      (abs(smd) < 0.1).as("balanced"))
  }

  /** CUPED variance-reduced experiment readout (Deng et al. 2013,
    * "Improving the Sensitivity of Online Controlled Experiments by
    * Utilizing Pre-Experiment Data"): per deterministic variant
    * (user_id parity — the hash-assignment stand-in), the raw and
    * CUPED-adjusted mean post-period purchase revenue, where the
    * adjustment Y − θ(X − x̄) uses each user's PRE-period revenue as
    * the covariate and the pooled θ = cov(X,Y)/var(X). The period
    * cutoff is derived from the data (min date + ⌊span/2⌋ days), so
    * the query is parameter-free and engine-portable.
    *
    * Determinism: X and Y are exact cent-scaled longs; θ's
    * numerator/denominator are the textbook n·Σxy − Σx·Σy forms
    * computed in DECIMAL(38,0) (mirroring DuckDB's HUGEINT sums —
    * both exact, so the final double casts bit-match), and every
    * reported mean applies one division tree identical in both
    * engines before the 4-dp floor-round.
    *
    * Scale shape: one partial-aggregable shuffle to the per-user
    * grain (conditional sums — the event stream never shuffles raw),
    * then a 1-row pooled aggregate broadcast back over the 2-row
    * variant aggregate. The date bounds are a 1-row broadcast cross
    * join, same as every calendar-derived literal in the daily lane. */
  def cupedLift(events: DataFrame, userCol: String, tsCol: String,
                typeCol: String, valueCol: String,
                eventType: String = "purchase"): DataFrame = {
    val d = to_date(col(tsCol))
    val bounds = events.agg(min(d).as("dmin"), max(d).as("dmax"))
    val dec = "decimal(38,0)"
    val perUser = events.crossJoin(broadcast(bounds))
      // floor EXPLICITLY: Spark's double→int cast truncates while
      // DuckDB's rounds, so a bare (days/2) cast would diverge on odd
      // spans
      .withColumn("cut", date_add(col("dmin"),
        floor(datediff(col("dmax"), col("dmin")) / 2).cast("int")))
      .groupBy(col(userCol).as("user_id"))
      .agg(
        sum(when(col(typeCol) === eventType && d < col("cut"),
          scaled(col(valueCol), 2)).otherwise(0L)).as("x_c"),
        sum(when(col(typeCol) === eventType && d >= col("cut"),
          scaled(col(valueCol), 2)).otherwise(0L)).as("y_c"))
      .withColumn("variant", (col("user_id") % 2).cast("int"))
      .snapshot() // feeds the pooled 1-row agg AND the variant agg
    val pooled = perUser.agg(
      count(lit(1)).as("n_p"),
      sum(col("x_c")).as("sx_p"),
      sum(col("y_c")).as("sy_p"),
      sum(col("x_c").cast(dec) * col("y_c").cast(dec)).as("sxy_p"),
      sum(col("x_c").cast(dec) * col("x_c").cast(dec)).as("sxx_p"))
    val num = (col("n_p").cast(dec) * col("sxy_p") -
      col("sx_p").cast(dec) * col("sy_p").cast(dec)).cast("double")
    val den = (col("n_p").cast(dec) * col("sxx_p") -
      col("sx_p").cast(dec) * col("sx_p").cast(dec)).cast("double")
    val theta = when(den === 0.0, lit(0.0)).otherwise(num / den)
    perUser.groupBy("variant")
      .agg(count(lit(1)).as("n_users"),
        sum(col("x_c")).as("sx_v"), sum(col("y_c")).as("sy_v"))
      .crossJoin(broadcast(pooled.select(theta.as("theta"),
        (col("sx_p").cast("double") / col("n_p")).as("xbar_p"))))
      .select(col("variant"), col("n_users"),
        rd(col("sy_v") / col("n_users").cast("double") / 100.0, 4).as("mean_y"),
        rd(col("theta"), 6).as("theta"),
        rd((col("sy_v") / col("n_users").cast("double") -
          col("theta") * (col("sx_v") / col("n_users").cast("double") -
            col("xbar_p"))) / 100.0, 4).as("mean_y_cuped"))
  }

  /** Always-valid sequential A/B monitor — the mixture sequential
    * probability ratio test (mSPRT; Johari, Koomen, Pekelis & Walsh,
    * KDD 2017): per day t, with CUMULATIVE per-arm counts and scaled
    * value sums (exact-long prefix windows over the day grain), the
    * two-sample mixture likelihood ratio under prior scale τ
    *   h_t = n_A·n_B/(n_A+n_B)   (effective sample size)
    *   Λ_t = √(σ²/(σ²+h_t·τ²)) · exp(h_t²·τ²·δ̂_t² / (2σ²·(σ²+h_t·τ²)))
    * where σ² is the pooled population variance of the outcome,
    * estimated ONCE from the full panel in n-scaled integer form (a
    * 1-row broadcast — fixed, deterministic), and the always-valid
    * p-value is p_t = min(1, 1/max_{s≤t} Λ_s) — monotone by the
    * running max, so "peeking" at any day keeps the type-I
    * guarantee. The exp/√ trees evaluate on exact-integer-derived
    * doubles in a fixed order. Shape: one day-grain pre-aggregate,
    * two prefix windows over ≤ D rows, one broadcast scalar. */
  def msprtMonitor(events: DataFrame, tsCol: String = "event_time",
                   userCol: String = "user_id", valCol: String = "value",
                   tau: Double = 0.1): DataFrame = {
    val day = to_date(col(tsCol))
    val v4 = scaled(col(valCol), 4)
    val daily = events
      .select(day.as("d"), (col(userCol) % 2 === 1).as("treated"), v4.as("v4"))
      .groupBy("d").agg(
        sum(when(col("treated"), 1L).otherwise(0L)).as("nb_d"),
        sum(when(!col("treated"), 1L).otherwise(0L)).as("na_d"),
        sum(when(col("treated"), col("v4")).otherwise(0L)).as("sb_d"),
        sum(when(!col("treated"), col("v4")).otherwise(0L)).as("sa_d"))
    // moments in DECIMAL(38,0): n·Σv² − (Σv)² reaches ~1e23 at even
    // the bench volume (v4 ≤ 5e6, 6e4 events) — decimal keeps every
    // step exact to the one final double division
    val sig = events.select(v4.cast("decimal(38,0)").as("v4"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("n"), sum(col("v4")).as("s"),
        sum(col("v4") * col("v4")).as("ss"))
      .select(((col("n") * col("ss") - col("s") * col("s")).cast("double") /
        (col("n") * col("n")).cast("double") / 1e8).as("sigma2"))
    val w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = daily.crossJoin(broadcast(sig))
      .withColumn("na", sum(col("na_d")).over(w))
      .withColumn("nb", sum(col("nb_d")).over(w))
      .withColumn("sa", sum(col("sa_d")).over(w))
      .withColumn("sb", sum(col("sb_d")).over(w))
      .filter(col("na") > 0 && col("nb") > 0)
    val h = (col("na") * col("nb")).cast("double") / (col("na") + col("nb")).cast("double")
    val delta = (col("sb").cast("double") / col("nb").cast("double") -
      col("sa").cast("double") / col("na").cast("double")) / 1e4
    val t2 = tau * tau
    val lam = sqrt(col("sigma2") / (col("sigma2") + h * t2)) *
      exp(h * h * t2 * delta * delta /
        (lit(2.0) * col("sigma2") * (col("sigma2") + h * t2)))
    val wMax = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum
      .withColumn("lambda", lam)
      .withColumn("lam_max", max(col("lambda")).over(wMax))
      .select(col("d").as("day"), col("na").as("n_ctrl"), col("nb").as("n_treat"),
        rd(delta, 4).as("delta"),
        rd(col("lambda"), 4).as("lambda"),
        rd(least(lit(1.0), lit(1.0) / col("lam_max")), 4).as("p_always_valid"))
  }

  /** Mantel–Haenszel pooled risk ratio across strata (Mantel &
    * Haenszel, JNCI 1959): per-stratum conversion of treated vs
    * control users plus the MH-pooled ratio
    * RR = Σ(aᵢ·n₀ᵢ/nᵢ) / Σ(bᵢ·n₁ᵢ/nᵢ) — the stratified readout that
    * survives Simpson's paradox where the crude pooled rate flips
    * sign. Treated = odd user_id (the kit's assignment convention);
    * strata = the `stratumCol` value; conversion = the user emitted
    * `convType` at least once. Per-stratum cells are exact integer
    * counts; per-stratum ratios and the pooled numerator/denominator
    * run as fixed double trees over exact counts, rd(4). Shape: one
    * per-user reduction, one stratum rollup, one 1-row pool. */
  def mantelHaenszel(events: DataFrame, stratumCol: String,
                     userCol: String = "user_id", typeCol: String = "event_type",
                     convType: String = "purchase"): DataFrame = {
    val perUser = events
      .groupBy(col(userCol).as("u"), col(stratumCol).as("stratum"))
      .agg(max(when(col(typeCol) === convType, 1L).otherwise(0L)).as("conv"))
      .select(col("stratum"), (col("u") % 2 === 1).as("treated"), col("conv"))
    val cells = perUser.groupBy("stratum").agg(
      sum(when(col("treated"), col("conv")).otherwise(0L)).as("a"),
      sum(when(col("treated"), 1L).otherwise(0L)).as("n1"),
      sum(when(!col("treated"), col("conv")).otherwise(0L)).as("b"),
      sum(when(!col("treated"), 1L).otherwise(0L)).as("n0"))
    val strata = cells
      .withColumn("n", col("n1") + col("n0"))
      .select(col("stratum"), col("a"), col("n1"), col("b"), col("n0"),
        rd(col("a").cast("double") / nullifZero(col("n1").cast("double")) /
          nullifZero(col("b").cast("double") / nullifZero(col("n0").cast("double"))),
          4).as("rr_stratum"),
        (col("a").cast("double") * col("n0").cast("double") /
          col("n").cast("double")).as("num"),
        (col("b").cast("double") * col("n1").cast("double") /
          col("n").cast("double")).as("den"))
    val pooled = strata.agg(
      sum(scaled(col("num"), 6)).as("num6"), sum(scaled(col("den"), 6)).as("den6"))
    strata.crossJoin(broadcast(pooled))
      .select(col("stratum"), col("a").as("conv_treat"), col("n1").as("n_treat"),
        col("b").as("conv_ctrl"), col("n0").as("n_ctrl"), col("rr_stratum"),
        rd(col("num6").cast("double") / nullifZero(col("den6").cast("double")), 4)
          .as("rr_pooled"))
  }

  /** Kaplan–Meier survival curve over user lifetimes (Kaplan & Meier,
    * JASA 1958) with right censoring: a user's lifetime runs from
    * their first to their last event day; users whose last activity
    * ends more than `churnGapDays` before the panel's end are CHURN
    * EVENTS at that duration, everyone else is CENSORED at panel end
    * (still alive — they exit the risk set without an event, which is
    * the entire point of KM over a naive churn histogram). Lifetimes
    * run at the HOUR grain (⌊epoch-µs/3.6·10⁹⌋ — the synthetic panel
    * spans one month, so day-grain durations would collapse the
    * curve). At each duration t: n_t (risk set) is a suffix sum over
    * the duration histogram, d_t the churn count, and
    * S(t) = Π_{s≤t} (1 − d_s/n_s), computed as
    * exp(Σ scaled-ln terms) — each term ln(1−d/n) rounds through
    * scaled(·, 8) to an exact long before the prefix sum, so the
    * cumulative product is order-free. Shape: one per-user reduction,
    * one duration-grain rollup (≤ D·24 rows), two windows over it. */
  def kaplanMeier(events: DataFrame, tsCol: String = "event_time",
                  userCol: String = "user_id", churnGapHours: Int = 24): DataFrame = {
    val hour = expr(s"unix_micros(cast($tsCol as timestamp)) div 3600000000").cast("long")
    val users = events
      .select(col(userCol).as("u"), hour.as("h"))
      .groupBy("u").agg(min(col("h")).as("first_h"), max(col("h")).as("last_h"))
    val panel = events.agg(max(hour).as("panel_end"))
    val lives = users.crossJoin(broadcast(panel))
      .select(
        when(col("panel_end") - col("last_h") > churnGapHours,
          col("last_h") - col("first_h"))
          .otherwise(col("panel_end") - col("first_h")).as("t"),
        (col("panel_end") - col("last_h") > churnGapHours).as("event"))
    val hist = lives.groupBy("t").agg(
      sum(when(col("event"), 1L).otherwise(0L)).as("d_t"),
      count(lit(1)).as("all_t"))
    val w = Window.orderBy("t")
    val atRisk = hist
      .withColumn("n_risk",
        sum(col("all_t")).over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .filter(col("d_t") > 0)
    atRisk
      .withColumn("ln8", scaled(
        log(lit(1.0) - col("d_t").cast("double") / col("n_risk").cast("double")), 8))
      .withColumn("cum", sum(col("ln8")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("t").as("t_hours"), col("n_risk"), col("d_t").as("n_churned"),
        rd(exp(col("cum").cast("double") / 1e8), 4).as("survival"))
  }

  /** First-order Markov transition matrix over each user's event
    * sequence: P(next = b | current = a) from exact bigram counts —
    * the user-journey model behind next-action prediction and
    * funnel-leak diagnosis (the probabilistic sibling of the
    * event-paths mining lane). Bigrams come from one per-user lead
    * window; probabilities are exact count ratios rounded rd(4).
    * Ties in simultaneous events break on (ts, event_id) — total
    * order, deterministic. Shape: one window + two rollups at the
    * (a,b) grain — at most |event types|² rows out. */
  def markovTransitions(events: DataFrame, tsCol: String = "event_time",
                        userCol: String = "user_id",
                        typeCol: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col("event_id"))
    val bigrams = events
      .withColumn("nxt", lead(col(typeCol), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col(typeCol).as("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
    val totals = bigrams.groupBy("cur").agg(sum(col("n")).as("n_cur"))
    bigrams.join(totals, "cur")
      .select(col("cur"), col("nxt"), col("n"), col("n_cur"),
        rd(col("n").cast("double") / col("n_cur").cast("double"), 4).as("p"))
  }

  /** Markov removal-effect attribution (Anderl, Becker, von Wangenheim
    * & Schumann 2014 — the de-facto data-driven multi-touch
    * attribution model): build the empirical event-type Markov chain
    * from per-user journeys ([[markovTransitions]]'s bigrams), make
    * `target` absorbing, and credit each channel by how much the
    * chain's conversion probability DROPS when that channel is
    * removed (its transitions contribute nothing — lost mass, no
    * renormalization, per the model).
    *
    * Absorption probabilities run `rounds` rounds of the exact-integer
    * power recursion at scale 1e9 (the [[graft.operators.Graph]]
    * bounded-round discipline):
    *   p₀(a)   = S·[a = target]
    *   pᵣ₊₁(a) = S                         if a = target
    *           = 0                          if a = removed
    *           = (Σ_b n_ab · pᵣ(b)) div n_a otherwise
    * — longs end to end (n_ab·p < 2⁶³ while |events| < 9·10⁹ at this
    * scale), order-free sums, floor division each round, so the whole
    * recursion is bit-portable and the DuckDB mirror unrolls the SAME
    * rounds. Conversion = Σ_a s_a·p_R(a) div n_users over the
    * empirical first-touch distribution s; removal effect and the
    * normalized attribution share divide the exact integer deltas.
    *
    * Scale shape: ONE pass over events builds the bigram counts and
    * first-touch counts (two partial-aggregable shuffles); the chain
    * itself is model-sized (|event types|² cells — a catalog
    * dimension, like the IVF centroid collects), so the (1+K)-variant
    * recursion runs on broadcast-scale data. Nothing user- or
    * event-grain ever iterates. */
  def markovAbsorption(events: DataFrame, target: String = "purchase",
                       rounds: Int = 8, tsCol: String = "event_time",
                       userCol: String = "user_id",
                       typeCol: String = "event_type"): DataFrame = {
    val S = 1000000000L
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col("event_id"))
    val seq = events
      .withColumn("rn", row_number().over(w))
      .withColumn("nxt", lead(col(typeCol), 1).over(w))
      .snapshot() // bigrams AND first-touch read the same window pass
    // model-sized collects (≤ |types|² + |types| rows): the chain is a
    // catalog dimension, the exact recursion runs on the driver
    val trans = seq.filter(col("nxt").isNotNull)
      .groupBy(col(typeCol).as("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val starts = seq.filter(col("rn") === 1)
      .groupBy(col(typeCol).as("st")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val states = (trans.keysIterator.flatMap(k => Iterator(k._1, k._2)) ++
      starts.keysIterator).toSeq.distinct.sorted
    val outTotal = states.map(a => a ->
      states.iterator.map(b => trans.getOrElse((a, b), 0L)).sum).toMap
    val nUsers = starts.valuesIterator.sum
    val spark = events.sparkSession
    import spark.implicits._
    // no journeys / no target state: degrade to an empty attribution
    // (at 100 TB some day-partition is always empty), schema intact
    if (nUsers == 0 || !states.contains(target))
      return Seq.empty[(String, Double, Double, Double, Double)]
        .toDF("channel", "p_conv_full", "p_conv_removed",
          "removal_effect", "attribution_share")
    def converge(removed: Option[String]): Long = {
      var p = states.map(a => a -> (if (a == target) S else 0L)).toMap
      for (_ <- 1 to rounds) {
        p = states.map { a =>
          a -> (if (a == target) S
                else if (removed.contains(a)) 0L
                else if (outTotal(a) == 0L) 0L
                else states.iterator
                  .map(b => trans.getOrElse((a, b), 0L) * p(b)).sum / outTotal(a))
        }.toMap
      }
      states.iterator.map(a => starts.getOrElse(a, 0L) * p(a)).sum / nUsers
    }
    val full = converge(None)
    val rows = states.filterNot(_ == target).map { c =>
      val without = converge(Some(c))
      (c, full, without, full - without)
    }
    val totalDelta = rows.iterator.map(_._4).sum
    rows.toDF("channel", "conv9", "conv9_removed", "delta9")
      .select(col("channel"),
        rd(col("conv9").cast("double") / 1e9, 6).as("p_conv_full"),
        rd(col("conv9_removed").cast("double") / 1e9, 6).as("p_conv_removed"),
        rd(col("delta9").cast("double") /
          nullifZero(col("conv9").cast("double")), 4).as("removal_effect"),
        rd(col("delta9").cast("double") / nullifZero(lit(totalDelta.toDouble)), 4)
          .as("attribution_share"))
  }

  /** Difference-in-differences estimator over the event stream: users
    * split into treatment (odd user_id) and control (even), periods
    * split at the panel's midpoint timestamp, outcome = mean event
    * value. DiD = (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) — the
    * workhorse quasi-experimental readout next to this kit's
    * randomized-experiment lanes (CUPED/SRM/MDE). The four cell
    * means are exact-integer ratios (scaled sums over counts); the
    * estimator is one fixed double tree rounded rd(4). Shape: one
    * partial-aggregable pass over events, a 4-row cell rollup, one
    * 1-row pivot — no user-dimension state. */
  def diffInDiff(events: DataFrame, tsCol: String = "event_time",
                 userCol: String = "user_id", valCol: String = "value"): DataFrame = {
    val us = unix_micros(col(tsCol).cast("timestamp"))
    val mid = events.agg(expr("(min(unix_micros(cast(" + tsCol +
      " as timestamp))) + max(unix_micros(cast(" + tsCol +
      " as timestamp)))) div 2").as("mid"))
    val cells = events.crossJoin(broadcast(mid))
      .select(
        (col(userCol) % 2 === 1).as("treated"),
        (us >= col("mid")).as("post"),
        scaled(col(valCol), 4).as("v4"))
      .groupBy("treated", "post")
      .agg(sum(col("v4")).as("s"), count(lit(1)).as("n"))
    val m = col("s").cast("double") / col("n").cast("double") / 1e4
    val wide = cells.select(
        when(col("treated") && col("post"), m).as("tp"),
        when(col("treated") && !col("post"), m).as("tr"),
        when(!col("treated") && col("post"), m).as("cp"),
        when(!col("treated") && !col("post"), m).as("cr"),
        col("n"))
      .agg(max(col("tp")).as("treat_post"), max(col("tr")).as("treat_pre"),
        max(col("cp")).as("ctrl_post"), max(col("cr")).as("ctrl_pre"),
        sum(col("n")).as("n_events"))
    wide.select(col("n_events"),
      rd(col("treat_pre"), 4).as("treat_pre"), rd(col("treat_post"), 4).as("treat_post"),
      rd(col("ctrl_pre"), 4).as("ctrl_pre"), rd(col("ctrl_post"), 4).as("ctrl_post"),
      rd((col("treat_post") - col("treat_pre")) - (col("ctrl_post") - col("ctrl_pre")),
        4).as("did"))
  }

  /** Welch's unequal-variance two-sample t-test per metric: for each
    * event type, per-user total value is the unit-level outcome, arms
    * are the same user-parity variants as [[sampleRatioCheck]]/
    * [[cupedLift]], and the readout is the Welch t statistic with the
    * Welch–Satterthwaite degrees of freedom — the default A/B mean
    * test when arm variances differ (Welch 1947). Complements
    * [[minimumDetectableEffect]] (design-time) with the analysis-time
    * statistic.
    *
    * Exactness: per-user outcomes are cent-scaled longs; per-arm
    * (n, Σy, Σy²) moments accumulate in DECIMAL(38,0) (HUGEINT in
    * the mirror), so t and df are ONE fixed double tree over exact
    * integers. Scale shape: one per-(metric,user) reduction, then a
    * per-metric conditional rollup — both partial-aggregable, no
    * user-dimension state or collect. */
  def welchTTest(events: DataFrame, userCol: String = "user_id",
                 typeCol: String = "event_type",
                 valueCol: String = "value"): DataFrame = {
    val perUser = events
      .groupBy(col(typeCol).as("metric"), col(userCol).as("user_id"))
      .agg(sum(scaled(col(valueCol), 2)).as("y"))
      .withColumn("v", (col("user_id") % 2).cast("int"))
    val m = perUser.groupBy("metric").agg(
      sum(when(col("v") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("v") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("v") === 0, col("y")).otherwise(0L)).as("s0"),
      sum(when(col("v") === 1, col("y")).otherwise(0L)).as("s1"),
      sum(when(col("v") === 0, dec38(col("y")) * dec38(col("y"))).otherwise(dec38(lit(0)))).as("ss0"),
      sum(when(col("v") === 1, dec38(col("y")) * dec38(col("y"))).otherwise(dec38(lit(0)))).as("ss1"))
      .filter(col("n0") >= 2 && col("n1") >= 2)
    def svar(n: String, s: String, ss: String) =
      (dec38(col(n)) * col(ss) - dec38(col(s)) * dec38(col(s))).cast("double") /
        (col(n).cast("double") * (col(n) - 1).cast("double"))
    val v0 = svar("n0", "s0", "ss0")
    val v1 = svar("n1", "s1", "ss1")
    val se0 = v0 / col("n0")
    val se1 = v1 / col("n1")
    val se2 = se0 + se1
    val t = (col("s0").cast("double") / col("n0") -
      col("s1").cast("double") / col("n1")) / nullifZero(sqrt(se2))
    val dfW = se2 * se2 / nullifZero(
      se0 * se0 / (col("n0") - 1) + se1 * se1 / (col("n1") - 1))
    m.select(col("metric"), col("n0"), col("n1"),
      rd(col("s0").cast("double") / col("n0") / 100.0, 4).as("mean0"),
      rd(col("s1").cast("double") / col("n1") / 100.0, 4).as("mean1"),
      rd(t, 4).as("t_welch"),
      rd(dfW, 2).as("df_welch"))
  }

  /** Kruskal–Wallis H test per day: do the k event-type groups draw
    * from the same value distribution? Rank-based one-way ANOVA
    * (Kruskal & Wallis 1952) with the tie correction — the k-group
    * companion to the per-symbol Mann–Whitney regime test.
    *
    * Exactness: with r̄ the mid-rank, 2·r̄ = 2·rank_min + (t−1) is an
    * INTEGER, so per-group rank sums travel as exact longs (sum of
    * 2r̄) and the tie term Σ(t³−t) is exact; H and its tie-corrected
    * form are ONE fixed double tree at the end. Scale shape: ranks
    * are per-day window sorts (range-partitioned at scale, never a
    * global single-partition sort), then two partial-aggregable
    * rollups. */
  def kruskalWallis(events: DataFrame, tsCol: String = "event_time",
                    typeCol: String = "event_type",
                    valueCol: String = "value"): DataFrame = {
    val day = to_date(col(tsCol))
    val v = scaled(col(valueCol), 2)
    val byDay = Window.partitionBy("d").orderBy("y")
    val ranked = events.select(day.as("d"), col(typeCol).as("g"), v.as("y"))
      .withColumn("rmin", rank().over(byDay))
      .withColumn("tcnt", count(lit(1)).over(Window.partitionBy("d", "y")))
      // 2·mid-rank, an exact integer even for even tie groups
      .withColumn("r2", lit(2L) * col("rmin") + col("tcnt") - 1L)
    val groups = ranked.groupBy("d", "g")
      .agg(count(lit(1)).as("nj"), sum(col("r2")).as("r2j"))
    val ties = ranked.select(col("d"), col("y"), col("tcnt")).distinct()
      .groupBy("d")
      .agg(sum(col("tcnt") * col("tcnt") * col("tcnt") - col("tcnt")).as("tie_sum"))
    val nDay = groups.groupBy("d")
      .agg(sum(col("nj")).as("n"), count(lit(1)).as("k"),
        // Σ R_j²/n_j with R_j = r2j/2 ⇒ Σ r2j²/(4·n_j). Each term is
        // an exact rational whose double image is correctly rounded
        // (r2j² < 2⁵³), floor-scaled(6) to a long BEFORE the sum so
        // the rollup is order-free; the ≤ 10⁻⁶-per-term quantization
        // dies under the final rd(4) after H's 12/(N(N+1)) shrink.
        sum(scaled(col("r2j").cast("double") * col("r2j").cast("double") /
          (lit(4.0) * col("nj")), 6)).as("sr6"))
    val h = lit(12.0) * (col("sr6").cast("double") / 1e6) /
      (col("n").cast("double") * (col("n") + 1)) -
      lit(3.0) * (col("n") + 1)
    val corr = lit(1.0) - col("tie_sum").cast("double") /
      (col("n").cast("double") * col("n") * col("n") - col("n"))
    nDay.join(ties, Seq("d"))
      .filter(col("k") >= 2 && col("n") >= col("k") + 1)
      .select(col("d"), col("n"), col("k"),
        rd(h, 4).as("h_stat"),
        rd(h / nullifZero(corr), 4).as("h_tie_corrected"))
  }

  /** Entropy rate of the empirical event-type Markov chain (Shannon
    * 1948; Ĥ = Σᵢ πᵢ·H(row i) with the EMPIRICAL stationary weights
    * πᵢ = nᵢ/N) — the "how predictable is the next user action"
    * scalar that complements [[markovAbsorption]]'s conversion lens
    * and [[q_markov]]'s raw transition matrix: a near-zero rate means
    * journeys are deterministic (sessionization/funnels will model
    * them well), a rate near log₂|S| means the chain carries no
    * signal. Per-state rows: the row entropy H_i (bits), the weight
    * πᵢ, and the rate contribution πᵢ·H_i — their sum IS the rate.
    *
    * Exactness: every cell term (nᵢⱼ/nᵢ)·log₂(nᵢ/nᵢⱼ) and
    * (nᵢⱼ/N)·log₂(nᵢ/nᵢⱼ) is one fixed double tree over exact longs,
    * quantized to a scale-12 long ([[TextAnalysis.jsDivergence]]'s
    * device) so the per-state sums are order-free. Scale shape: one
    * user-partitioned lead window at event grain, one bigram rollup,
    * then everything lives on the |S|²-bounded transition dimension
    * (broadcast-joined totals). */
  def entropyRate(events: DataFrame, tsCol: String = "event_time",
                  userCol: String = "user_id",
                  typeCol: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col("event_id"))
    val trans = events
      .withColumn("nxt", lead(col(typeCol), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col(typeCol).as("cur"), col("nxt"))
      .agg(count(lit(1)).as("nij"))
      .snapshot() // feeds row totals, the grand total, and the score pass
    val rowTot = trans.groupBy("cur").agg(sum(col("nij")).as("ni"))
    val grand = trans.agg(sum(col("nij")).as("nn"))
    val hTerm = col("nij").cast("double") / col("ni").cast("double") *
      log2(col("ni").cast("double") / col("nij").cast("double"))
    val rTerm = col("nij").cast("double") / col("nn").cast("double") *
      log2(col("ni").cast("double") / col("nij").cast("double"))
    trans.join(broadcast(rowTot), "cur")
      .crossJoin(broadcast(grand))
      .withColumn("h12", scaled(hTerm, 12))
      .withColumn("r12", scaled(rTerm, 12))
      .groupBy("cur")
      .agg(count(lit(1)).as("n_next_states"),
        max(col("ni")).as("ni"), max(col("nn")).as("nn"),
        sum(col("h12")).as("h12"), sum(col("r12")).as("r12"))
      .select(col("cur").as("state"),
        col("n_next_states").cast("long").as("n_next_states"),
        col("ni").cast("long").as("n_out"),
        rd(col("ni").cast("double") / col("nn").cast("double"), 6).as("pi"),
        rd(col("h12").cast("double") / 1e12, 6).as("h_bits"),
        rd(col("r12").cast("double") / 1e12, 6).as("rate_contrib_bits"))
  }

  /** McNemar's paired-proportion test (McNemar, 1947) on within-user
    * conversion change: did users who converted in the FIRST half of
    * their own journey keep converting in the second half? Each user
    * is their own control — the b/c discordant pair counts (lost =
    * converted early only, gained = late only) drive
    * χ² = (b−c)²/(b+c); the concordant cells cancel out, which is the
    * whole point of the paired design and what a two-sample test on
    * the same data gets wrong. The within-subject complement of the
    * A/B lane ([[q_welch_ttest]], [[q_mh_lift]]).
    *
    * Exactness: the half split is rn·2 ≤ count (pure integers), cell
    * counts exact; χ² is ONE double division, and the 5% significance
    * gate is the all-integer cross-multiplication
    * 10000·(b−c)² > 38415·(b+c) in DECIMAL/HUGEINT (the
    * [[Profiling.rateAnomaly]] device — no engine's sqrt or division
    * enters the decision). Scale shape: one user-partitioned window
    * pass + one user rollup + one 1-row rollup. The uncorrected
    * statistic is the documented contract (no continuity
    * correction), mirrored verbatim by the oracle. */
  def mcnemar(events: DataFrame, target: String = "purchase",
              tsCol: String = "event_time", userCol: String = "user_id",
              typeCol: String = "event_type"): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(col(tsCol), col("event_id"))
    val marked = events
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(userCol)))
      .withColumn("hit", when(col(typeCol) === target, 1L).otherwise(0L))
    val users = marked.groupBy(col(userCol))
      .agg(max(when(col("rn") * 2 <= col("cnt"), col("hit")).otherwise(0L)).as("h1"),
        max(when(col("rn") * 2 > col("cnt"), col("hit")).otherwise(0L)).as("h2"))
    val d = col("lost") - col("gained")
    users.agg(
      count(lit(1)).as("n_users"),
      sum(when(col("h1") === 1L && col("h2") === 1L, 1L).otherwise(0L)).as("both"),
      sum(when(col("h1") === 0L && col("h2") === 0L, 1L).otherwise(0L)).as("neither"),
      sum(when(col("h1") === 1L && col("h2") === 0L, 1L).otherwise(0L)).as("lost"),
      sum(when(col("h1") === 0L && col("h2") === 1L, 1L).otherwise(0L)).as("gained"))
      .select(col("n_users").cast("long").as("n_users"),
        col("both").cast("long").as("n_both"),
        col("neither").cast("long").as("n_neither"),
        col("lost").cast("long").as("n_lost"),
        col("gained").cast("long").as("n_gained"),
        rd((d * d).cast("double") /
          nullifZero((col("lost") + col("gained")).cast("double")), 4).as("chi2"),
        (dec38(d) * dec38(d) * lit(10000L) >
          dec38(col("lost") + col("gained")) * lit(38415L)).as("significant"))
  }

  /** Cochran's Q across the k event-type "treatments" (Cochran,
    * Biometrika 1950) — the k-treatment generalization of
    * [[mcnemar]]: per user, a binary "ever performed type t" per
    * type; Q asks whether the k per-type conversion rates differ
    * beyond per-user heterogeneity. Convention: ALL users enter the
    * panel (non-discriminating all-zero rows cancel exactly; the raw
    * full-panel Q is the mirrored contract).
    *
    *   Q = (k−1)·(k·ΣC_j² − N²) / (k·N − ΣR_i²)
    *
    * with C_j the per-type totals, R_i the per-user totals,
    * N = ΣR_i. All moments are exact longs; Q is ONE double
    * division. The 5% gate is ALL-INTEGER (the [[mcnemar]] device):
    * (k−1)(kΣC²−N²)·10⁴ > crit·(kN−ΣR²) with `chi2Crit4` the
    * χ²_{k−1} 5% critical value ×10⁴ — the caller supplies it
    * because it depends on k (df = k−1); the gate NULLs when the
    * panel's k differs from `expectK` rather than comparing against
    * the wrong distribution. */
  def cochranQ(events: DataFrame, userCol: String = "user_id",
               typeCol: String = "event_type", expectK: Int = 5,
               chi2Crit4: Long = 94877L): DataFrame = {
    val x = events
      .select(col(userCol).as("uid"), col(typeCol).as("t"))
      .filter(col("uid").isNotNull && col("t").isNotNull)
      .distinct() // presence grain: did user ever perform type t
      .snapshot() // feeds both margins
    // squares in DECIMAL(38,0): C_j is user-count-sized, so ΣC_j²
    // passes 2^63 near 1e9 users (the dimsonBeta overflow rule)
    val cj = x.groupBy("t").agg(count(lit(1)).as("c"))
      .agg(count(lit(1)).as("k"), sum(col("c")).as("n"),
        sum(dec38(col("c")) * dec38(col("c"))).as("sc2"))
    val ri = x.groupBy("uid").agg(count(lit(1)).as("r"))
      .agg(count(lit(1)).as("n_users"), sum(dec38(col("r")) * dec38(col("r"))).as("sr2"))
    val g = cj.crossJoin(broadcast(ri))
    val num = dec38(col("k") - 1L) * (dec38(col("k")) * col("sc2") - dec38(col("n")) * dec38(col("n")))
    val den = dec38(col("k")) * dec38(col("n")) - col("sr2")
    g.select(col("n_users").cast("long").as("n_users"),
      col("k").cast("long").as("k_treatments"),
      col("n").cast("long").as("n_marks"),
      rd(num.cast("double") / nullifZero(den.cast("double")), 4).as("q"),
      when(col("k") === expectK.toLong,
        num * lit(10000L) > den * lit(chi2Crit4)).as("significant"))
  }

  /** Bradley–Terry preference strengths by `rounds` unrolled
    * minorization–maximization updates (Bradley & Terry, Biometrika
    * 1952; Hunter, "MM algorithms for generalized Bradley-Terry
    * models", Annals of Statistics 2004) — THE pairwise-preference
    * model RLHF reward modeling standardizes on: given head-to-head
    * records (n_ij comparisons, w_ij wins of i over j), the MM step
    * w_i ← W_i / Σ_j n_ij/(w_i + w_j) converges to the maximum-
    * likelihood strengths from any positive start. `rounds` is the
    * house bounded-iteration contract ([[graft.operators.Graph
    * .pageRankScaled]]): the oracle unrolls the SAME rounds, so
    * results are pinned, not approximate.
    *
    * Input `games`: one row per ORDERED pair (i, j) with columns
    * (i, j, n, wi) — both orientations present, n comparisons and
    * wi wins of i within them. Requires every item to have ≥ 1 win
    * and ≥ 1 loss overall (the standard BT existence condition;
    * all-win items diverge to ∞ under MM). NOTE (r17 restructure):
    * the item set is the DISTINCT i VALUES — an item appearing only
    * as j (a violation of the both-orientations contract) is excluded
    * from the output entirely, where the pre-r17 join form still
    * counted it in wins/games totals.
    *
    * Exactness: strengths live as scale-9 longs; each pair term
    * n/(w_i + w_j) is quantized to a scale-12 long so the per-item
    * denominator is an order-free integer sum; the update is one
    * fixed double tree per item per round.
    *
    * Scale shape (r17 restructure, guide §2.4 "remove shuffles
    * outright"): the strength vector is ITEM-dimension-sized — the
    * same boundedness the previous form already leaned on to
    * broadcast it twice per round — so the whole MM loop runs with
    * ZERO per-round shuffles: the grid is grouped ONCE to per-item
    * partner arrays (S rows, S-1 entries each; one pair-grid-linear
    * pass), the strengths travel as a single broadcast 1-row array,
    * and each round is a projection whose order-free long fold
    * (`aggregate` over the partner array) reproduces the previous
    * join+rollup bit-for-bit. The join form paid, per round, two
    * broadcast builds + a pair-grid-sized partial-agg exchange and
    * ~4 driver job barriers (measured r17: the lane is job-chain
    * bound — 29 sequential jobs, median 66 ms); this form pays one
    * 1-row map build per round. */
  def bradleyTerry(games: DataFrame, rounds: Int = 2): DataFrame = {
    require(rounds >= 1, "bradleyTerry: at least one MM round")
    val grid = games.select(col("i"), col("j"),
      col("n").cast("long").as("n"), col("wi").cast("long").as("wi"))
    // Dense 1-based item ids (deterministic: ordered by item key).
    // The strength vector then travels as a plain ARRAY positioned by
    // id — element_at(array, id) is O(1), where a Spark map value
    // lookup is a LINEAR scan of the (array-backed) MapData, which
    // measured O(S³) per round on the first cut of this restructure.
    val ids = grid.select(col("i").as("symbol")).distinct()
      .withColumn("id", row_number().over(Window.orderBy("symbol")))
      .snapshot() // S rows; consumed by TWO broadcast builds below
    // ONE pair-grid pass: per-item totals + the partner list (jid, n).
    // S is an item dimension (the existing broadcast-strengths
    // contract), so S-1 entries per row is bounded catalog data.
    val byI = grid
      .join(broadcast(ids.select(col("symbol").as("j"), col("id").as("jid"))), "j")
      .groupBy(col("i").as("symbol"))
      .agg(sum(col("wi")).as("wins"), sum(col("n")).as("games"),
        collect_list(struct(col("jid"), col("n"))).as("ps"))
      .join(broadcast(ids), "symbol")
      .snapshot() // consumed once per round + the readout
    // 1-row strength array, position = id (sort_array on the unique
    // leading id makes the order deterministic).
    def warr(strengths: DataFrame): DataFrame =
      strengths.agg(transform(
        sort_array(collect_list(struct(col("id"), col("w9")))),
        e => e.getField("w9")).as("wa"))
    var m = warr(byI.select(col("id"), lit(1000000000L).as("w9")))
    for (_ <- 1 to rounds) {
      // t12_i = Σ_j scaled(n_ij·1e9/(w_i+w_j), 12): the same scale-12
      // long terms as the join form, summed by an order-free integer
      // fold — bit-identical at any evaluation order.
      val t = byI.crossJoin(broadcast(m))
        .select(col("symbol"), col("id"), col("wins"),
          aggregate(col("ps"), lit(0L), (acc, p) =>
            acc + scaled(p.getField("n").cast("double") * lit(1.0e9) /
              (element_at(col("wa"), col("id")) +
                element_at(col("wa"), p.getField("jid"))).cast("double"), 12))
            .as("t12"))
      m = warr(t.select(col("id"),
        scaled(col("wins").cast("double") * lit(1.0e12) /
          col("t12").cast("double"), 9).as("w9")))
    }
    // Readout: per-item strength from the final array, normalized by
    // the same Σw9 long sum as before (sum over the S-row frame).
    val w = byI.crossJoin(broadcast(m))
      .select(col("symbol"), col("wins"), col("games"),
        element_at(col("wa"), col("id")).as("w9"))
      .snapshot() // feeds the global sum AND the final projection
    val tot = w.agg(sum(col("w9")).as("sw"))
    w.crossJoin(broadcast(tot))
      .select(col("symbol"),
        col("games").cast("long").as("games"),
        col("wins").cast("long").as("wins"),
        rd(col("w9").cast("double") / col("sw").cast("double"), 6)
          .as("bt_strength"))
  }

  /** Unbiased pass@k per task (Chen et al., "Evaluating Large
    * Language Models Trained on Code", 2021, eq. 1): from n sampled
    * attempts with c successes, the probability that at least one of
    * k DRAWN-WITHOUT-REPLACEMENT samples succeeds is
    * 1 − C(n−c,k)/C(n,k) = 1 − Π_{t=0..k−1} (n−c−t)/(n−t) — the
    * plain success rate c/n estimates pass@1; the naive
    * 1−(1−c/n)^k OVERESTIMATES pass@k (sampling with replacement).
    * Tasks with fewer than k attempts are dropped; n−c < k means
    * some k-subset is all-failures-impossible → pass@k = 1 exactly.
    *
    * Exactness: n and c are exact longs; the k-term product is a
    * fixed double tree (k is a plan-time constant). Scale shape: one
    * partial-aggregable task rollup, then scalar math — no joins,
    * no windows. */
  def passAtK(events: DataFrame, taskCol: String, successCol: org.apache.spark.sql.Column,
              k: Int = 5): DataFrame = {
    require(k >= 1, "passAtK: k must be positive")
    val g = events.groupBy(col(taskCol).as("task"))
      .agg(count(lit(1)).as("n"),
        sum(when(successCol, 1L).otherwise(0L)).as("c"))
      .filter(col("n") >= k.toLong)
    val prod = (0 until k).map(t =>
      (col("n") - col("c") - lit(t.toLong)).cast("double") /
        (col("n") - lit(t.toLong)).cast("double")).reduce(_ * _)
    g.select(col("task"),
      col("n").cast("long").as("n_samples"),
      col("c").cast("long").as("n_correct"),
      rd(col("c").cast("double") / col("n").cast("double"), 6).as("pass_at_1"),
      rd(when(col("n") - col("c") >= k.toLong, lit(1.0) - prod)
        .otherwise(lit(1.0)), 6).as(s"pass_at_$k"))
  }
}
