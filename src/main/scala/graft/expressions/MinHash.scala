package graft.expressions

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression,
  UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The affine MinHash lane family over a 31-bit base hash, tabulated
  * once: h_i(x) = (A(i) * (hash60(x) & 2^31-1) + B(i)) mod (2^31 - 1).
  * The constants are md5-derived (an LCG progression gives
  * linearly-correlated lanes, which measurably degrades banded-LSH
  * recall). Products stay under 2^62, so neither Spark nor DuckDB
  * overflows. Every lane user reads this table: the MinHash signature
  * ([[MinHashSig]]), `functions.Hashing.lane`/`sqlLane` (the composed
  * and oracle forms) and the CMS / bloom buckets ([[CmsSketchAgg]]).
  */
object MinHashLanes {
  final val P = 2147483647L // 2^31 - 1
  final val Mask31 = 2147483647L
  /** Table size: the 64-lane MinHash signature is the largest user. */
  final val Count = 64

  private def h60(s: String): Long = Hash60Util.hash60(s.getBytes(UTF_8))

  val A: Array[Long] = Array.tabulate(Count) { i =>
    val a = h60(s"minhash-laneA|$i") % P
    if (a == 0) 1L else a
  }
  val B: Array[Long] = Array.tabulate(Count)(i => h60(s"minhash-laneB|$i") % P)

  def lane(h31: Long, i: Int): Long = (A(i) * h31 + B(i)) % P
}

/** MinHash signature of one shingle set as ONE codegen'd per-row
  * expression: `array<string>` → `array<bigint>` of k lanes, lane i =
  * min over the non-NULL elements of `lane_i(hash60(e) & 2^31-1)` —
  * one md5 per element, then k multiply-adds with a running min.
  *
  * Bit-identical to the composed form it replaces (explode the set,
  * then `min(lane_i(h31))` per doc; parity-asserted in
  * DedupSketchSpec): NULL elements are skipped like `min` skips them, a
  * set with no non-NULL element yields k NULL lanes, a NULL set yields
  * NULL. The composed form needed a shuffle to regroup the exploded
  * shingles; this needs none, since the set is already one row.
  */
case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1 && k <= MinHashLanes.Count,
    s"MinHashSig: k must be in 1..${MinHashLanes.Count}, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def prettyName: String = "minhash_sig"

  /** Shared by eval and the generated code, so the two cannot drift. */
  def build(set: ArrayData): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var e = 0
    while (e < set.numElements()) {
      if (!set.isNullAt(e)) {
        val h31 = Hash60Util.hash60(set.getUTF8String(e).getBytes) &
          MinHashLanes.Mask31
        var i = 0
        while (i < k) {
          val v = MinHashLanes.lane(h31, i)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
        any = true
      }
      e += 1
    }
    if (any) UnsafeArrayData.fromPrimitiveArray(mins)
    else new GenericArrayData(new Array[Any](k))
  }

  override def nullSafeEval(input: Any): Any =
    build(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhashSig", this,
      classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.build($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSig = copy(child = newChild)
}

/** LSH band hashes of one MinHash signature: `array<bigint>` of k lanes
  * → `array<bigint>` of k / rowsPerBand band hashes, band b = hash60 of
  * its lanes' decimal strings joined with "," — the per-row form of
  * `hash60(concat_ws(",", h_{b*r}..h_{b*r+r-1} cast as string))`, NULL
  * lanes skipped exactly as concat_ws skips them. Trailing lanes that
  * fill no whole band are ignored.
  */
case class LshBandHashes(child: Expression, rowsPerBand: Int)
    extends UnaryExpression {
  require(rowsPerBand >= 1,
    s"LshBandHashes: rowsPerBand must be >= 1, got $rowsPerBand")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "lsh_band_hashes"

  def build(sig: ArrayData): ArrayData = {
    val out = new Array[Long](sig.numElements() / rowsPerBand)
    val sb = new java.lang.StringBuilder
    var b = 0
    while (b < out.length) {
      sb.setLength(0)
      var j = b * rowsPerBand
      while (j < (b + 1) * rowsPerBand) {
        if (!sig.isNullAt(j)) {
          if (sb.length > 0) sb.append(',')
          sb.append(sig.getLong(j))
        }
        j += 1
      }
      out(b) = Hash60Util.hash60(sb.toString.getBytes(UTF_8))
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def nullSafeEval(input: Any): Any =
    build(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBandHashes", this,
      classOf[LshBandHashes].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.build($a);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): LshBandHashes = copy(child = newChild)
}
