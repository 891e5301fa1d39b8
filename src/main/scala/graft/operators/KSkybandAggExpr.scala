package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.core.SkylineCore.Frontier

/**
 * k-skyband aggregate (points dominated by fewer than `k` others;
 * `k = 1` degenerates to the skyline) as a native
 * [[TypedImperativeAggregate]] — same execution shape as
 * [[SkylineAggExpr]]: partial aggregation computes per-task candidate
 * bands (a [[Frontier]] with running dominator counts, see
 * [[Frontier.insertCounted]]), only candidates cross the wire (points
 * only — running counts are a pruning device and are recomputed on
 * deserialize), and buffers merge by re-inserting one side's candidates
 * into the other ([[Frontier.mergeCounted]]). Output: `array<struct<p:
 * array<double>, c: int>>` sorted lexicographically, where `c` is the
 * EXACT global dominator count of each emitted point ([[Frontier.recount]];
 * proof at [[graft.core.SkylineCore.kSkybandOf]]).
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
  extends TypedImperativeAggregate[Frontier] {

  require(k >= 1, s"k-skyband needs k >= 1, got $k")

  override def children: Seq[Expression] = dims

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("p", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("c", IntegerType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): Frontier = new Frontier(minDir, k)

  private def checkCap(buf: Frontier): Frontier = {
    if (buf.size > maxBuffer) throw SkylineAggExpr.capTrip("k-skyband", maxBuffer,
      "the band of this data is too large to aggregate safely — reduce k or dimensions, " +
        "or raise the cap.")
    buf
  }

  override def update(buf: Frontier, input: InternalRow): Frontier =
    if (SkylineAggExpr.stageRow(dims, buf, input) && buf.insertCounted()) checkCap(buf) else buf

  override def merge(a: Frontier, b: Frontier): Frontier = checkCap(a.mergeCounted(b))

  override def eval(buf: Frontier): Any = {
    val band = buf.points.zip(buf.recount()).filter(_._2 < k)
    new GenericArrayData(band.sortBy(_._1)(SkylineAggExpr.lexOrder).map { case (p, c) =>
      new GenericInternalRow(Array[Any](new GenericArrayData(p): ArrayData, c)): AnyRef
    }.toArray)
  }

  override def serialize(buf: Frontier): Array[Byte] =
    SkylineAggExpr.writePoints(buf.flat, buf.size, buf.d)

  override def deserialize(bytes: Array[Byte]): Frontier = {
    val buf = new Frontier(minDir, k)
    // re-inserting recomputes running counts within the buffer; the
    // incoming buffer is already duplicate-free and candidate-pruned
    SkylineAggExpr.readPoints(java.nio.ByteBuffer.wrap(bytes)) { (flat, off) =>
      buf.stage(flat, off)
      buf.insertCounted()
    }
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
