package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `stopword_hits(text, profiles)` — the stopword hit counts of a text
  * for several word profiles at once, from one tokenization per row.
  *
  * `profiles` is a literal `array<array<string>>` of k word lists. The
  * result is an `array<int>` of k + 1 counts: element i counts the
  * tokens of `text` that are in profile i, element k the tokens that
  * are in any profile (the union). Each count equals the built-in form
  * `size(filter(split(text, ' '), t -> t IN (words)))` (equality
  * tested): tokens are the pieces between single spaces, empty pieces
  * kept, matched byte for byte (case-sensitive). A null text gives
  * what `size` gives for null: null, or k + 1 times -1 under
  * `spark.sql.legacy.sizeOfNull`, read when the call resolves, as
  * `size` reads it.
  *
  * The built-in form costs a fresh `split` and an interpreted `filter`
  * lambda per profile and row; stopword language ID and quality
  * scoring read k + 1 of them. Here each token is one hash lookup.
  * Registered by [[GraftExtensions]] as `stopword_hits`.
  */
case class StopwordHits(child: Expression, profiles: Seq[Seq[String]],
                        legacySizeOfNull: Boolean) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"stopword_hits requires a UTF8_BINARY string, got ${child.dataType.catalogString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = !legacySizeOfNull && child.nullable
  override def prettyName: String = "stopword_hits"

  @transient private lazy val table = new StopwordTable(profiles)

  override def eval(input: InternalRow): Any = {
    val text = child.eval(input)
    if (text != null) table.count(text.asInstanceOf[UTF8String])
    else if (legacySizeOfNull) table.legacyNull
    else null
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = ctx.addReferenceObj("stopwords", table)
    val c = child.genCode(ctx)
    val onNull =
      if (legacySizeOfNull) s"${ev.value} = $t.legacyNull();"
      else s"${ev.isNull} = true;"
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = false;
      ${CodeGenerator.javaType(dataType)} ${ev.value} = null;
      if (${c.isNull}) { $onNull } else { ${ev.value} = $t.count(${c.value}); }""")
  }

  override protected def withNewChildInternal(newChild: Expression): StopwordHits =
    copy(child = newChild)
}

/** The word → profile-indices table behind [[StopwordHits]], shared by
  * interpreted eval and generated code (which holds it as a reference
  * object, so it ships with the task). */
final class StopwordTable(profiles: Seq[Seq[String]]) extends Serializable {
  private val k = profiles.size
  private val words: Map[String, Array[Int]] =
    profiles.zipWithIndex
      .flatMap { case (ws, i) => ws.filter(_ != null).distinct.map(_ -> i) }
      .groupBy(_._1).map { case (w, is) => w -> is.map(_._2).toArray }
  private val maxBytes = words.keys.map(_.getBytes("UTF-8").length).foldLeft(0)(math.max)
  @transient private lazy val lookup: java.util.HashMap[UTF8String, Array[Int]] = {
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    words.foreach { case (w, is) => m.put(UTF8String.fromString(w), is) }
    m
  }

  def count(text: UTF8String): ArrayData = {
    val counts = new Array[Int](k + 1)
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    // split on single spaces: 0x20 never occurs inside a multi-byte
    // UTF-8 sequence, so the byte pieces are split(text, ' ')'s tokens
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || text.getByte(i) == ' ') {
        val len = i - start
        if (len > 0 && len <= maxBytes) {
          val in = lookup.get(UTF8String.fromAddress(base, off + start, len))
          if (in != null) {
            var j = 0
            while (j < in.length) { counts(in(j)) += 1; j += 1 }
            counts(k) += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(counts)
  }

  def legacyNull: ArrayData = UnsafeArrayData.fromPrimitiveArray(Array.fill(k + 1)(-1))
}
