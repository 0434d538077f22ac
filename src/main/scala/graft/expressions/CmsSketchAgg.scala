package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch (Cormode & Muthukrishnan 2005) as a
  * TypedImperativeAggregate — the buffer-based production form of
  * q61's compositional sketch, the same relationship HllSketchAgg has
  * to `Sketches.hllDistinct`: the whole d×w counter matrix is ONE
  * 2 KB buffer per group (merged by element-wise addition) instead of
  * ≤ d×w weighted rows, the better constant when sketching per-group.
  *
  * Parameters are IDENTICAL to queries.Curation's compositional CMS:
  * 4 lanes × 64 buckets, bucket_l = affine lane_l(hash60(key) & 2³¹−1)
  * mod 64, each key counted with an explicit long `weight` (so Zipf
  * corpora can pre-aggregate per distinct key). All arithmetic is
  * exact long addition — order-independent, so the result is
  * deterministic on any partitioning and equals the compositional /
  * DuckDB formulation cell-for-cell (oracle-gated inside q61).
  *
  * Returns the full sketch as array<long> of length d·w (lane-major):
  * probe estimates are `min_l sketch[l·w + bucket_l(probe)]`, with
  * probe buckets computable at plan time for constant probe keys.
  */
case class CmsSketchAgg(
    child: Expression,
    weight: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  import CmsSketchAgg.{Lanes, W}

  override def children: Seq[Expression] = Seq(child, weight)

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, weight.dataType) match {
      case (StringType | BinaryType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (c, w) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (string|binary, bigint), got " +
          s"(${c.simpleString}, ${w.simpleString})")
    }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_sketch"

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](Lanes * W)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val w = weight.eval(input)
      val wv = if (w == null) 0L else w.asInstanceOf[Long]
      if (wv != 0L) {
        val bytes = v match {
          case s: UTF8String => s.getBytes
          case b: Array[Byte] => b
        }
        val h31 = Hash60Util.hash60(bytes) & MinHashLanes.Mask31
        var l = 0
        while (l < Lanes) {
          buf(l * W + CmsSketchAgg.bucket(h31, l)) += wv
          l += 1
        }
      }
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }
  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def withNewMutableAggBufferOffset(offset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CmsSketchAgg =
    copy(child = newChildren(0), weight = newChildren(1))
}

object CmsSketchAgg {
  val Lanes = 4
  val W = 64

  /** Lane l of [[MinHashLanes]] (the table functions.Hashing reads too,
    * so parity with the compositional form is by construction; q61
    * oracle-gates it) reduced to a bucket. */
  def bucket(h31: Long, l: Int): Int = (MinHashLanes.lane(h31, l) % W).toInt
}
