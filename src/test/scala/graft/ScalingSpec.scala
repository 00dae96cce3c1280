package graft

import org.scalatest.funspec.AnyFunSpec
import graft.tools.Scaling

/** Growth-ratio gate: the scale-sensitive operator families, timed at
  * sf0.01 AND sf0.1, must grow sub-quadratically in their input
  * (ratio ≤ 1.5 × input growth — see Scaling's scaladoc). This is the
  * measured counterpart of the structural plan pins in PlanSpec: a
  * regression that re-introduces an all-pairs candidate stage passes
  * every correctness gate at sf0.01 and fails HERE, because its time
  * ratio jumps toward growth².
  *
  * A representative subset keeps the suite bounded (one query per
  * family; `runMain graft.tools.Scaling` writes all 23 rows of this
  * span to SCALING.md, with the two composite spans); min-of-2 after
  * the sf0.001 warm-up is enough because the gate has ≥ 2× headroom
  * over the measured ratios.
  */
class ScalingSpec extends AnyFunSpec {
  private lazy val spark = SharedSpark.spark

  private val spans = Scaling.spans("entity", "date")

  private val subset = spans.head.copy(families = spans.head.families.filter { case (n, _) =>
    Set("q_dedup_minhash_lsh", "q_dedup_simhash", "q_sim_topk",
        "q_triangles", "q_pagerank", "q_winsorize",
        "q_dedup_recall", "q_retrieval_ndcg")(n)
  })

  describe("scale growth sf0.01 -> sf0.1") {
    it("stays sub-quadratic for every scale-sensitive family") {
      assume(new java.io.File("/root/testdata/sf0.1").isDirectory &&
             new java.io.File("/root/testdata/sf0.01").isDirectory)
      assert(subset.families.size == 8)
      val Seq((_, rows)) = Scaling.measure(spark, Seq(subset), trials = 2)
      assert(rows.size == 8 && rows.forall(r => r.tFrom > 0 && r.tTo > 0))
      val bad = rows.filterNot(_.ok)
      assert(bad.isEmpty,
        "super-quadratic growth (ratio > 1.5x input growth): " +
          bad.map(r => f"${r.query} ratio=${r.ratio}%.1f bound=${r.bound}%.0f " +
            f"(${r.tFrom}%.2fs -> ${r.tTo}%.2fs)").mkString("; "))
    }
  }

  describe("Scaling spans") {
    it("name registered queries with positive bounds, in all three spans") {
      assert(spans.map(_.families.size) == Seq(23, 58, 17))
      val rows = spans.flatMap(_.families)
      val unknown = rows.map(_._1).filterNot(SparkEntry.queries.contains)
      assert(unknown.isEmpty, unknown)
      assert(rows.forall(_._2 > 0), rows)
      // the first span's bound is 1.5 × its input growth (10× or 4×)
      assert(spans.head.families.map(_._2).toSet == Set(15.0, 6.0))
    }

    it("render one file: a row over its bound reads NO, and one Generated-by line") {
      val span = spans(1)
      val rows = Seq(
        Scaling.Growth("q_winsorize", 15.0, Seq(1.0, 1.2), Seq(14.0, 15.0)),
        Scaling.Growth("q_pagerank", 15.0, Seq(1.0), Seq(16.0)),
        // under the 0.15 s floor the denominator is the floor
        Scaling.Growth("q_triangles", 15.0, Seq(0.01), Seq(2.4)))
      val md = Scaling.markdown(Seq(spans.head -> rows.take(1), span -> rows.drop(1)),
        trials = 2, cpus = 4, hostFactors = (1.0, 1.1))
      val lines = md.linesIterator.toSeq
      assert(lines.count(_.contains("Generated by")) == 1, md)
      assert(lines.exists(_.startsWith("| q_winsorize | 1.00 | 1.20 | 14.00 | 1.07 | 14.0 | 15 | yes |")), md)
      assert(lines.exists(l => l.startsWith("| q_pagerank |") && l.endsWith("| 16.0 | 15 | NO |")), md)
      assert(lines.exists(l => l.startsWith("| q_triangles |") && l.endsWith("| 16.0 | 15 | NO |")), md)
      assert(lines.count(_.startsWith("## ")) == 2 && lines.contains("All within bounds: false."), md)
      assert(lines.exists(_.contains("| t(entity) s |")), md)
    }
  }
}
