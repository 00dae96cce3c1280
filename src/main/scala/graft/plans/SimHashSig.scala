package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** `simhash_sig(tokens)` — the 60-bit SimHash of a (distinct) token
  * array in one narrow pass per row: bit j set ⇔
  * Σ_tokens (bit_j(hash60(token))·2 − 1) > 0.
  *
  * Value-identical to the aggregation form
  * (`simhashAgg` in DedupSpec, equality tested) but
  * computed inside the scan stage: no token explode, no shuffle
  * through 60 partial bit-sum aggregates. Registered by
  * [[GraftExtensions]] as `simhash_sig`.
  */
case class SimHashSig(child: Expression, bits: Int = 60) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) if bits > 0 && bits <= 60 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"simhash_sig requires array<string> and bits in (0,60], got ${child.dataType.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    SimHashSigOps.compute(input.asInstanceOf[ArrayData], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.SimHashSigOps.compute($c, $bits);")

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSigOps {
  def compute(tokens: ArrayData, bits: Int): Long = {
    val sums = new Array[Int](bits)
    val n = tokens.numElements()
    var k = 0
    while (k < n) {
      val h = MinHashSigOps.hash60(tokens.getUTF8String(k).getBytes)
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
        j += 1
      }
      k += 1
    }
    var sig = 0L
    var j = 0
    while (j < bits) {
      if (sums(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}
