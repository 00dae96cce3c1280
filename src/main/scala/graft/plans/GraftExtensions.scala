package graft.plans

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point. [[graft.Session.getOrCreate]] builds
  * sessions with it; [[graft.Session.install]] registers the same
  * table on a session built elsewhere.
  *
  * Registers the custom native expressions: [[RollingHash]],
  * [[MinHashSig]], [[SimHashSig]], [[WordShingles]], [[StopwordHits]],
  * [[HyperplaneSig]], [[DotQ]], [[QuantizeVec]], [[NearestCells]],
  * [[PqEncode]], [[AdcDist]], [[WinnowFps]], [[CmsMergeAgg]],
  * [[CmsEstimate]], plus Spark's own bloom aggregate/probe exposed as
  * functions. The reference's own operator
  * surface needs no custom Catalyst rules/strategies (SURVEY §4
  * conclusion) — this hook exists for the scale-path primitives that
  * built-ins can't express without interpreted lambdas or blown-up
  * row counts, plus ONE planner strategy: [[PinPartitioningStrategy]],
  * which restores the hash-layout fact that `localCheckpoint` drops
  * under AQE so iterative graph loops stop re-exchanging their label
  * frames every round.
  *
  * Builders validate like Spark's own registry entries: wrong arity
  * and non-literal config arguments raise an `AnalysisException` with
  * the standard error class (`WRONG_NUM_ARGS` / `NON_FOLDABLE_ARGUMENT`)
  * instead of an opaque eval-time NPE, and surplus arguments are
  * rejected rather than silently dropped.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // Planner strategy for the one custom logical node: the staging
    // layer's partitioning pin (see PinHashPartitioning's soundness
    // contract — only Staging.snapshotKeyed constructs it).
    ext.injectPlannerStrategy(_ => new PinPartitioningStrategy)
    GraftExtensions.functions.foreach(ext.injectFunction)
  }
}

object GraftExtensions {
  import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
  import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain

  /** The native function table. [[GraftExtensions.apply]] injects it
    * into sessions built with `spark.sql.extensions`, and
    * [[graft.Session.install]] registers it on a live session. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("rolling_hash", classOf[RollingHash])(c =>
      RollingHash(arity("rolling_hash", c, 1, 1).head)),
    fn("minhash_sig", classOf[MinHashSig])(c => MinHashSig(
      arity("minhash_sig", c, 1, 2).head,
      foldableInt("minhash_sig", "numHashes", c, 1, default = 32))),
    fn("simhash_sig", classOf[SimHashSig])(c => SimHashSig(
      arity("simhash_sig", c, 1, 2).head,
      foldableInt("simhash_sig", "bits", c, 1, default = 60))),
    fn("word_shingles", classOf[WordShingles])(c => WordShingles(
      arity("word_shingles", c, 1, 2).head,
      foldableInt("word_shingles", "n", c, 1, default = 3))),
    fn("stopword_hits", classOf[StopwordHits]) { c =>
      val a = arity("stopword_hits", c, 2, 2)
      StopwordHits(a.head, foldableProfiles("stopword_hits", a(1)),
        org.apache.spark.sql.internal.SQLConf.get.legacySizeOfNull)
    },
    fn("hyperplane_sig", classOf[HyperplaneSig])(c => HyperplaneSig(
      arity("hyperplane_sig", c, 1, 2).head,
      foldableInt("hyperplane_sig", "planes", c, 1, default = 12))),
    fn("dot_q", classOf[DotQ]) { c =>
      val a = arity("dot_q", c, 2, 2)
      DotQ(a.head, a(1))
    },
    fn("quantize_vec", classOf[QuantizeVec]) { c =>
      val a = arity("quantize_vec", c, 2, 2)
      QuantizeVec(a.head, a(1))
    },
    fn("nearest_cells", classOf[NearestCells]) { c =>
      val a = arity("nearest_cells", c, 2, 3)
      NearestCells(a.head, a(1), foldableInt("nearest_cells", "nProbe", c, 2, default = 1))
    },
    fn("pq_encode", classOf[PqEncode]) { c =>
      val a = arity("pq_encode", c, 3, 3)
      PqEncode(a.head, a(1), a(2))
    },
    fn("adc_dist", classOf[AdcDist]) { c =>
      val a = arity("adc_dist", c, 2, 2)
      AdcDist(a.head, a(1))
    },
    fn("winnow_fps", classOf[WinnowFps])(c => WinnowFps(
      arity("winnow_fps", c, 1, 3).head,
      foldableInt("winnow_fps", "k", c, 1, default = 4),
      foldableInt("winnow_fps", "w", c, 2, default = 4))),
    // Spark's own bloom-filter expressions, which core registers only
    // for the optimizer's injected runtime filters — exposing them as
    // functions gives pipelines an explicit "build once, prefilter a
    // huge scan" primitive (see Decontamination.contaminationScoresBloom).
    // bloom_filter_agg(longCol[, estimatedItems[, numBits]]) → binary
    fn("bloom_filter_agg", classOf[BloomFilterAggregate]) { c =>
      val a = arity("bloom_filter_agg", c, 1, 3)
      a.size match {
        case 1 => new BloomFilterAggregate(a.head)
        case 2 => new BloomFilterAggregate(a.head, a(1))
        case _ => new BloomFilterAggregate(a.head, a(1), a(2))
      }
    },
    // bloom_might_contain(binary, longCol) → boolean (no false negatives)
    fn("bloom_might_contain", classOf[BloomFilterMightContain]) { c =>
      val a = arity("bloom_might_contain", c, 2, 2)
      BloomFilterMightContain(a.head, a(1))
    },
    // cms_merge_agg(binary) → binary: in-plan Count-Min sketch rollup
    // (Spark ships the build aggregate but no merge — same gap as bloom)
    fn("cms_merge_agg", classOf[CmsMergeAgg])(c =>
      CmsMergeAgg(arity("cms_merge_agg", c, 1, 1).head)),
    // cms_estimate(binary, string) → bigint: in-plan point-frequency read
    fn("cms_estimate", classOf[CmsEstimate]) { c =>
      val a = arity("cms_estimate", c, 2, 2)
      CmsEstimate(a.head, a(1))
    })

  private def fn(name: String, cls: Class[_])(build: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Reject wrong argument counts at resolution time with Spark's
    * standard error class (extra args would otherwise be silently
    * ignored by positional `lift`). */
  private def arity(fn: String, children: Seq[Expression],
                    min: Int, max: Int): Seq[Expression] = {
    if (children.size < min || children.size > max)
      throw new AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map(
          "functionName" -> s"`$fn`",
          "expectedNum" -> (if (min == max) min.toString else s"[$min, $max]"),
          "actualNum" -> children.size.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    children
  }

  /** Literal `array<array<string>>` argument (word profiles); a
    * non-literal or mistyped one raises `NON_FOLDABLE_ARGUMENT`. */
  private def foldableProfiles(fn: String, e: Expression): Seq[Seq[String]] = {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, StringType}
    def fail = throw new AnalysisException(
      errorClass = "NON_FOLDABLE_ARGUMENT",
      messageParameters = Map(
        "funcName" -> s"`$fn`",
        "paramName" -> "`profiles`",
        "paramType" -> "\"ARRAY<ARRAY<STRING>>\""))
    def strings(a: ArrayData): Seq[String] =
      (0 until a.numElements()).map(i => if (a.isNullAt(i)) null else a.getUTF8String(i).toString)
    e.dataType match {
      case ArrayType(ArrayType(_: StringType, _), _) if e.foldable =>
        val outer = e.eval().asInstanceOf[ArrayData]
        if (outer == null) fail
        (0 until outer.numElements()).map(i =>
          if (outer.isNullAt(i)) Nil else strings(outer.getArray(i)))
      case _ => fail
    }
  }

  /** Optional literal-int config argument: absent → default; present
    * but non-foldable (a column, a non-deterministic call) → a clear
    * `NON_FOLDABLE_ARGUMENT` instead of an NPE from `eval()` on an
    * unbound attribute. */
  private def foldableInt(fn: String, param: String, children: Seq[Expression],
                          idx: Int, default: Int): Int =
    children.lift(idx) match {
      case None => default
      case Some(e) =>
        if (!e.foldable)
          throw new AnalysisException(
            errorClass = "NON_FOLDABLE_ARGUMENT",
            messageParameters = Map(
              "funcName" -> s"`$fn`",
              "paramName" -> s"`$param`",
              "paramType" -> "\"INT\""))
        e.eval() match {
          case n: Number => n.intValue
          case _ => throw new AnalysisException(
            errorClass = "NON_FOLDABLE_ARGUMENT",
            messageParameters = Map(
              "funcName" -> s"`$fn`",
              "paramName" -> s"`$param`",
              "paramType" -> "\"INT\""))
        }
    }
}
