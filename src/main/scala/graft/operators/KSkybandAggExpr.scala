package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.core.SkylineCore

/** Mutable candidate buffer: points with their running dominator counts
  * (parallel arrays — see the soundness/exactness argument at
  * [[SkylineCore.kSkybandInsert]]). */
private[graft] final class KSkybandBuffer {
  val points: ArrayBuffer[Array[Double]] = ArrayBuffer.empty
  val counts: ArrayBuffer[Int] = ArrayBuffer.empty
}

/**
 * k-skyband aggregate (points dominated by fewer than `k` others;
 * `k = 1` degenerates to the skyline) as a native
 * [[TypedImperativeAggregate]] — same execution shape as
 * [[SkylineAggExpr]]: partial aggregation computes per-task candidate
 * buffers, only buffers cross the wire (points only — running counts are
 * a pruning device and are recomputed on deserialize), and the final
 * merge re-inserts. Output: `array<struct<p: array<double>,
 * c: int>>` sorted lexicographically, where `c` is the EXACT global
 * dominator count of each emitted point (proof at the core insert).
 *
 * Buffer growth: the k-skyband is at least the skyline and grows with
 * `k`; the same configurable cap as the skyline applies
 * (`spark.graft.skyline.maxBufferPoints`), failing loudly instead of
 * OOMing an executor.
 */
case class KSkybandAggExpr(
    dims: Seq[Expression],
    minDir: Array[Boolean],
    k: Int,
    maxBuffer: Int = SkylineAggExpr.DefaultMaxBuffer,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KSkybandBuffer] {

  require(k >= 1, s"k-skyband needs k >= 1, got $k")

  override def children: Seq[Expression] = dims

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("p", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("c", IntegerType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): KSkybandBuffer = new KSkybandBuffer

  private def checkCap(buf: KSkybandBuffer): KSkybandBuffer = {
    if (buf.points.length > maxBuffer) throw SkylineAggExpr.capTrip("k-skyband", maxBuffer,
      "the band of this data is too large to aggregate safely — reduce k or dimensions, " +
        "or raise the cap.")
    buf
  }

  override def update(buf: KSkybandBuffer, input: InternalRow): KSkybandBuffer = {
    val d = dims.length
    val p = new Array[Double](d)
    var i = 0
    while (i < d) {
      val v = dims(i).eval(input)
      if (v == null) return buf // same missing-coordinate contract as the skyline
      p(i) = v.asInstanceOf[Double] + 0.0 // -0.0 -> +0.0: duplicates are SQL-equal points
      i += 1
    }
    SkylineCore.kSkybandInsert(buf.points, buf.counts, p, minDir, k)
    checkCap(buf)
  }

  override def merge(a: KSkybandBuffer, b: KSkybandBuffer): KSkybandBuffer = {
    var i = 0
    while (i < b.points.length) {
      SkylineCore.kSkybandInsert(a.points, a.counts, b.points(i), minDir, k)
      i += 1
    }
    checkCap(a)
  }

  override def eval(buf: KSkybandBuffer): Any = {
    val band = SkylineCore.kSkybandCounts(buf.points, minDir, k)
    new GenericArrayData(band.sortBy(_._1)(SkylineAggExpr.lexOrder).map { case (p, c) =>
      new GenericInternalRow(Array[Any](new GenericArrayData(p): ArrayData, c)): AnyRef
    }.toArray)
  }

  override def serialize(buf: KSkybandBuffer): Array[Byte] = {
    val d = dims.length
    val flat = new Array[Double](buf.points.length * d)
    buf.points.indices.foreach(i => System.arraycopy(buf.points(i), 0, flat, i * d, d))
    SkylineAggExpr.writePoints(flat, buf.points.length, d)
  }

  override def deserialize(bytes: Array[Byte]): KSkybandBuffer = {
    val buf = new KSkybandBuffer
    // re-inserting recomputes running counts within the buffer; the
    // incoming buffer is already duplicate-free and candidate-pruned
    SkylineAggExpr.readPoints(java.nio.ByteBuffer.wrap(bytes))((flat, off) => SkylineCore.kSkybandInsert(
      buf.points, buf.counts, java.util.Arrays.copyOfRange(flat, off, off + dims.length), minDir, k))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KSkybandAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KSkybandAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KSkybandAggExpr =
    copy(dims = newChildren)

  override def prettyName: String = "kskyband"
}
