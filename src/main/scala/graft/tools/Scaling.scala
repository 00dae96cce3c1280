package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Scale-growth measurement: the same registered query timed at two
  * scale factors, reported as a growth RATIO against the known input
  * growth between them.
  *
  * This is the measured form of the 100-TB design claims. Every
  * scale-sensitive operator here is structurally pinned (banded LSH
  * candidate generation, degree-ordered triangle orientation,
  * bounded-iteration PageRank, partial-agg winsorize) — but a
  * structural pin only says the plan SHAPE survives growth; this
  * records whether the measured TIME does. A sub-quadratic operator
  * on a g× input must grow well under g²×; the bound used is
  * 1.5·g (linear with 50% headroom for the log factors, shuffle
  * width changes and fixed costs that legitimately creep in), so a
  * quadratic candidate explosion (g²·= 100× or 16×) fails loudly.
  *
  * Run as a main ([[ScalingBench]]) to (re)generate `SCALING.md`;
  * gated continuously by ScalingSpec on a representative subset.
  */
object Scaling {

  /** The scale-sensitive queries: every family whose naive form is
    * quadratic (all-pairs dedup/similarity), super-linear (graph), or
    * whose shuffle volume grows with the corpus. `inputGrowth` is the
    * driving table's row growth sf0.01 → sf0.1 (documents 500→5 000,
    * embeddings 500→2 000, lineitem 60 K→600 K, daily bars ~5 K→~53 K
    * per TESTDATA.md + driver row counts). */
  val scaleSensitive: Seq[(String, String, Double)] = Seq(
    ("q_dedup_minhash_lsh",   "documents",  10.0),
    ("q_dedup_ngram_jaccard", "documents",  10.0),
    ("q_dedup_simhash",       "documents",  10.0),
    ("q_dedup_groups",        "documents",  10.0),
    ("q_semdedup",            "embeddings",  4.0),
    ("q_dedup_embedding",     "embeddings",  4.0),
    ("q_sim_topk",            "embeddings",  4.0),
    ("q_sim_ann_lsh",         "embeddings",  4.0),
    ("q_sim_ivf",             "embeddings",  4.0),
    ("q_sim_pq",              "embeddings",  4.0),
    ("q_sim_near_dup",        "embeddings",  4.0),
    ("q_triangles",           "lineitem",   10.0),
    ("q_pagerank",            "lineitem",   10.0),
    ("q_pairs_spread",        "daily bars", 10.0),
    ("q_pair_correlation",    "daily bars", 10.0),
    ("q_winsorize",           "daily bars", 10.0),
    // round-11 eval harnesses: dedup recall runs the exact-pairs
    // chain AND the LSH candidate chain; retrieval ndcg runs brute
    // force AND the LSH retriever over the same query batch
    ("q_dedup_recall",        "documents",  10.0),
    ("q_retrieval_ndcg",      "embeddings",  4.0),
    // winnowing keeps ~2/(w+1) of ALL ordered grams (no distinct
    // shingle dedup), so its volume tracks raw corpus length
    ("q_winnowing",           "documents",  10.0),
    // attribution as-of joins the full event stream to itself
    ("q_attribution",         "events",     10.0),
    // two LPA rounds = two message-passing joins, linear in |E|
    ("q_communities",         "lineitem",   10.0),
    // round-13: SCC is 2 phases × 2×6 bounded message-passing rounds,
    // linear in |E|; association rules self-join on the order key with
    // per-order fan-out bounded by basket width²
    ("q_scc",                 "lineitem",   10.0),
    ("q_assoc_rules",         "lineitem",   10.0))

  final case class Growth(name: String, table: String, inputGrowth: Double,
                          tSmall: Double, tLarge: Double) {
    /** Fixed-overhead floor on the denominator: several of these run
      * in well under the session's per-job scheduling constant at
      * sf0.01, and dividing by that noise would overstate growth. */
    def ratio: Double = tLarge / math.max(tSmall, 0.15)
    def bound: Double = 1.5 * inputGrowth
    def ok: Boolean = ratio <= bound
  }

  /** Warm each query once on `warmDir` (codegen + JIT), then min-of-
    * `trials` at each scale. Large-scale trials run AFTER all small
    * ones so JIT state is comparable across queries. */
  def measure(spark: SparkSession, queries: Seq[(String, String, Double)],
              smallDir: String, largeDir: String, trials: Int,
              warmDir: String = "/root/testdata/sf0.001"): Seq[Growth] = {
    // growth must cover the FULL recompute path: with the silver marts
    // on, trial 2+ reads a parquet cache and the ratio would measure
    // the post-prep algorithm only — an all-pairs regression in the
    // edge-list prep would slip the gate. Disable for the measurement.
    // Every run goes through Bench.timed, which releases the blocks the
    // run persisted: snapshot() panels from the previous query (or,
    // in-suite, from 400 earlier tests on the shared session) otherwise
    // squeeze the LARGE-side trials' execution memory, and the growth
    // ratio measures memory pressure, not the plan (r13 in-suite flake:
    // q_retrieval_ndcg 0.36 s isolated vs 2.77 s mid-suite). As in
    // Bench, one GC per query stays as a second line against non-block
    // JVM residue (broadcast and shuffle cleanup wait on it).
    def timed(name: String, dir: String): Double =
      graft.Bench.timed(spark)(SparkEntry.queries(name)(spark, dir).count())
    graft.Session.withConf(spark, "graft.marts.materialize" -> "false") {
      if (new java.io.File(warmDir).isDirectory)
        queries.foreach { case (n, _, _) =>
          try timed(n, warmDir) catch { case _: Throwable => () }
        }
      def minOf(n: String, dir: String): Double = {
        System.gc()
        (1 to trials).map(_ => timed(n, dir)).min
      }
      val small = queries.map { case (n, _, _) => n -> minOf(n, smallDir) }.toMap
      val large = queries.map { case (n, _, _) => n -> minOf(n, largeDir) }.toMap
      queries.map { case (n, t, g) => Growth(n, t, g, small(n), large(n)) }
    }
  }

  def markdown(rows: Seq[Growth], trials: Int, cpus: String): String = {
    val sb = new StringBuilder
    sb ++= "# SCALING — measured growth sf0.01 → sf0.1\n\n"
    sb ++= s"Generated by `runMain graft.tools.ScalingBench` (local[$cpus], " +
      s"min-of-$trials per scale after an sf0.001 warm-up).\n\n"
    sb ++= "`ratio` = t(sf0.1) / max(t(sf0.01), 0.15 s); `bound` = 1.5 × the\n"
    sb ++= "driving table's input growth (sub-quadratic bar: a quadratic\n"
    sb ++= "candidate explosion would show ~growth² = 100× / 16×). Ratios\n"
    sb ++= "well UNDER the input growth mean fixed costs still dominate at\n"
    sb ++= "these scales — the plan has headroom, not a hidden cliff.\n\n"
    sb ++= "| query | input | growth | t(sf0.01) s | t(sf0.1) s | ratio | bound | ok |\n"
    sb ++= "|---|---|---|---|---|---|---|---|\n"
    rows.foreach { r =>
      sb ++= f"| ${r.name} | ${r.table} | ${r.inputGrowth}%.0f× | ${r.tSmall}%.2f " +
        f"| ${r.tLarge}%.2f | ${r.ratio}%.1f | ${r.bound}%.0f | ${if (r.ok) "yes" else "NO"} |\n"
    }
    sb ++= f"\nAll sub-quadratic: ${rows.forall(_.ok)}. " +
      "ScalingSpec gates a representative subset of these ratios in `sbt test`.\n"
    sb.toString
  }
}

/** Regenerates `SCALING.md` (run from the repo root):
  * `SPARK_GRAFT_CPUS=32 sbt "runMain graft.tools.ScalingBench"` */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.getOrCreate("graft-scaling")
    val cpus = spark.sparkContext.defaultParallelism.toString
    spark.sparkContext.setLogLevel("WARN")
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    val rows = Scaling.measure(spark, Scaling.scaleSensitive,
      "/root/testdata/sf0.01", "/root/testdata/sf0.1", trials)
    val md = Scaling.markdown(rows, trials, cpus)
    // preserve CompositeScalingBench's generated section: this tool
    // owns only the head table, and a full-file write would silently
    // drop the composite rows whenever the two tools run out of order
    val path = java.nio.file.Paths.get("SCALING.md")
    val existing =
      if (java.nio.file.Files.exists(path))
        new String(java.nio.file.Files.readAllBytes(path),
          java.nio.charset.StandardCharsets.UTF_8)
      else ""
    val begin = existing.indexOf(CompositeScalingBench.BeginMarker)
    val out = if (begin >= 0) md + "\n" + existing.substring(begin) else md
    java.nio.file.Files.write(path,
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    print(out)
    val worst = rows.maxBy(r => r.ratio / r.bound)
    println(f"""{"metric":"scaling_worst","query":"${worst.name}","ratio":${worst.ratio}%.2f,"bound":${worst.bound}%.0f,"all_ok":${rows.forall(_.ok)}}""")
    spark.stop()
  }
}
