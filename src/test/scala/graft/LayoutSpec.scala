package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec
import graft.sources.{Layout, Tables}

/** Z-order layout: correctness of the bit ladder and the actual
  * data-skipping win it exists for. */
class LayoutSpec extends AnyFunSpec {
  import SharedSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  /** Rows the parquet scan actually emitted (post row-group pruning) —
    * the number data-skipping is supposed to shrink. */
  private def scanOutputRows(df: DataFrame): Long = {
    df.collect()
    val fin = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    fin.collectLeaves().collectFirst {
      case f: FileSourceScanExec => f.metrics("numOutputRows").value
    }.getOrElse(sys.error("no FileSourceScanExec in plan"))
  }

  describe("zValue") {
    it("interleaves bits (Morton order), a on even bits, b on odd") {
      // a=5 (101), b=3 (011) → z bits b2 a2 b1 a1 b0 a0 = 011011 = 27
      val got = Seq((5L, 3L)).toDF("a", "b")
        .select(Layout.zValue($"a", $"b")).as[Long].head()
      assert(got == 27L)
      // and the SQL mirror is generated from the same constants
      assert(Layout.zValueSql("a", "b").contains("6148914691236517205"))
    }
    it("zValueN generalizes: 2-column form matches zValue, 3-column matches a JVM fold") {
      val rows = Seq((5L, 3L, 7L), (65535L, 0L, 1L), (12345L, 54321L, 999L), (0L, 0L, 0L))
      val df = rows.toDF("a", "b", "c")
      val two = df.select(Layout.zValue($"a", $"b"),
        Layout.zValueN(Seq($"a", $"b"), bitsPerCol = 16)).as[(Long, Long)].collect()
      assert(two.forall(p => p._1 == p._2))
      def ref(vals: Seq[Long], bits: Int): Long =
        vals.zipWithIndex.map { case (v, ci) =>
          (0 until bits).map(i => ((v >> i) & 1L) << (i * vals.size + ci)).reduce(_ | _)
        }.reduce(_ | _)
      val three = df.select(Layout.zValueN(Seq($"a", $"b", $"c"))).as[Long].collect()
      assert(three.toSeq == rows.map(r => ref(Seq(r._1, r._2, r._3), 20)))
    }
  }

  describe("hilbertValue") {
    it("is a space-filling curve: bijection onto 0..4^order-1 with unit-step adjacency") {
      // exhaustive at order 4 (16x16 grid): every cell gets a distinct
      // index in range, and consecutive indices are Manhattan-adjacent
      // cells — the property that makes Hilbert file bounding boxes
      // tighter than Morton's (which jumps across the plane).
      val n = 16
      val cells = for (x <- 0 until n; y <- 0 until n) yield (x.toLong, y.toLong)
      val got = cells.toDF("x", "y")
        .select($"x", $"y", Layout.hilbertValue($"x", $"y", order = 4).as("h"))
        .collect()
        .map(r => (r.getLong(2), (r.getLong(0), r.getLong(1))))
        .sortBy(_._1)
      assert(got.map(_._1).toSeq == (0L until (n.toLong * n)).toSeq,
        "indices must be exactly 0..255")
      got.sliding(2).foreach { case Array((_, (x1, y1)), (_, (x2, y2))) =>
        assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
          s"consecutive hilbert cells must be adjacent: ($x1,$y1) -> ($x2,$y2)")
      }
    }
    it("matches the canonical xy2d reference values at order 16") {
      // JVM re-implementation of the textbook xy2d loop as the fixture
      def xy2d(order: Int, x0: Long, y0: Long): Long = {
        var (x, y, d) = (x0, y0, 0L)
        var s = 1L << (order - 1)
        while (s > 0) {
          val rx = if ((x & s) > 0) 1L else 0L
          val ry = if ((y & s) > 0) 1L else 0L
          d += s * s * ((3 * rx) ^ ry)
          if (ry == 0) { // rotate
            if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
            val t = x; x = y; y = t
          }
          s >>= 1
        }
        d
      }
      val pts = Seq((0L, 0L), (1L, 0L), (65535L, 65535L), (12345L, 54321L), (40000L, 7L))
      val got = pts.toDF("x", "y")
        .select(Layout.hilbertValue($"x", $"y").as("h")).as[Long].collect()
      assert(got.toSeq == pts.map { case (x, y) => xy2d(16, x, y) })
    }
  }

  describe("zorderWrite") {
    it("prunes row groups on the SECOND dimension — the win a single sort can't give") {
      val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_suppkey", "l_quantity")
      TempDir("graft_zorder") { base =>

        // z-ordered layout vs the same data sorted ONLY by l_orderkey
        Layout.zorderWrite(li, "l_orderkey", "l_suppkey", s"$base/zorder", outFiles = 8)
        li.repartitionByRange(8, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey")
          .write.parquet(s"$base/bykey")

        // same selective filter on the second column
        def filtered(p: String) =
          spark.read.parquet(p).filter(col("l_suppkey") === 1)
        val zRows = scanOutputRows(filtered(s"$base/zorder"))
        val kRows = scanOutputRows(filtered(s"$base/bykey"))
        // identical answers either way…
        assert(filtered(s"$base/zorder").agg(sum("l_quantity")).head() ==
          filtered(s"$base/bykey").agg(sum("l_quantity")).head())
        // …but the z layout lets parquet min/max stats skip most row
        // groups, where the orderkey-sorted layout scatters suppkey
        // everywhere and reads the world
        assert(zRows * 2 <= kRows, s"zorder read $zRows rows, single-key layout read $kRows")
      }
    }
  }

  describe("pruneEstimate") {
    it("skips exactly the files whose stats interval misses the range") {
      import spark.implicits._
      val files = Seq(
        (1L, 0L, 10L, 100L),    // below [20, 30] -> skip
        (2L, 15L, 25L, 200L),   // overlaps -> scan
        (3L, 28L, 40L, 300L),   // overlaps -> scan
        (4L, 50L, 90L, 400L))   // above -> skip
        .toDF("file_id", "fmin", "fmax", "n_rows")
      val r = Layout.pruneEstimate(files, "fmin", "fmax", "n_rows", 20.0, 30.0)
        .collect().head
      assert(r.getAs[Long]("n_files") == 4L)
      assert(r.getAs[Long]("files_skipped") == 2L)
      assert(r.getAs[Long]("rows_skipped") == 500L)
      assert(r.getAs[Double]("skip_ratio") == 0.5)
    }
  }
}
