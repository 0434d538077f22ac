package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SimHash fingerprint of one token array as ONE codegen'd per-row
  * expression: `array<string>` → `bigint`. Bit b (b < bits) is set iff
  * the vote sum over all tokens, with multiplicity, of +1 (bit b of
  * hash60(token) set) / -1 (clear) is positive.
  *
  * Tokens are counted in a per-row hash map first, so there is one md5
  * per DISTINCT token (Zipf text repeats its head words heavily) and
  * `bits` weighted votes each. Bit-identical to the composed form it
  * replaces (explode, count per (doc, token), `sum(when(bit, cnt)
  * .otherwise(-cnt))` per bit; parity-asserted in DedupSketchSpec): a
  * NULL element votes -1 on every bit, as its NULL hash fails every
  * bit test there; an empty array yields 0; a NULL array yields NULL.
  */
case class SimHashFp(child: Expression, bits: Int) extends UnaryExpression {
  require(bits >= 1 && bits <= 60,
    s"SimHashFp: bits must be in 1..60 (hash60 has 60), got $bits")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = LongType

  override def prettyName: String = "simhash_fp"

  /** Shared by eval and the generated code, so the two cannot drift. */
  def build(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Long]](n * 2)
    var i = 0
    while (i < n) {
      val t = if (toks.isNullAt(i)) null else toks.getUTF8String(i)
      val c = counts.get(t)
      if (c == null) counts.put(t, Array(1L)) else c(0) += 1
      i += 1
    }
    val votes = new Array[Long](bits)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = if (e.getKey == null) 0L
        else Hash60Util.hash60(e.getKey.getBytes)
      val c = e.getValue()(0)
      var b = 0
      while (b < bits) {
        if (((h >>> b) & 1L) == 1L) votes(b) += c else votes(b) -= c
        b += 1
      }
    }
    var fp = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) fp |= 1L << b
      b += 1
    }
    fp
  }

  override def nullSafeEval(input: Any): Any =
    build(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashFp", this,
      classOf[SimHashFp].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.build($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): SimHashFp = copy(child = newChild)
}
