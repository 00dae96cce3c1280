package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** `minhash_sig(shingles)` — the full `numHashes`-long MinHash
  * signature of a shingle array in ONE narrow pass per row.
  *
  * Value-identical to the aggregation form
  * (`minhashSigAgg` in DedupSpec, equality tested):
  * base_s = first-15-md5-hex-digits(s) mod 2^30, sig_i = min_s
  * ((2i+1)·base_s + 7919·i) mod 1073741821. The aggregation form
  * explodes every (doc, shingle) into a row, md5s it, and shuffles
  * through `numHashes` partial min aggregates; this expression keeps
  * the whole computation inside the scan stage — no explode, no
  * exchange, signature emitted at parquet-reader speed. The md5 is
  * the same digest the SQL function computes, so cross-engine
  * determinism (and the DuckDB oracle) is unchanged.
  *
  * Registered by [[GraftExtensions]] as `minhash_sig`.
  */
case class MinHashSig(child: Expression, numHashes: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) if numHashes > 0 => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig requires array<string> and a positive hash count, got ${child.dataType.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override protected def nullSafeEval(input: Any): Any =
    MinHashSigOps.compute(input.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.MinHashSigOps.compute($c, $numHashes);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** Static helper shared by interpreted eval and generated code (the
  * object's static forwarder makes it callable from codegen'd Java). */
object MinHashSigOps {

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex digits of md5(bytes) as a long — the JVM twin of
    * `conv(substring(md5(s), 1, 15), 16, 10)` (Funcs.hash60): 7 full
    * bytes plus the high nibble of the 8th. */
  def hash60(bytes: Array[Byte]): Long = {
    val md = digest.get()
    md.reset()
    val d = md.digest(bytes)
    var v = 0L
    var k = 0
    while (k < 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    (v << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  def compute(shingles: ArrayData, numHashes: Int): ArrayData = {
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    var j = 0
    while (j < n) {
      val base = hash60(shingles.getUTF8String(j).getBytes) % 1073741824L
      var i = 0
      while (i < numHashes) {
        val c = ((2L * i + 1L) * base + 7919L * i) % 1073741821L
        if (c < mins(i)) mins(i) = c
        i += 1
      }
      j += 1
    }
    new GenericArrayData(mins)
  }
}
