package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.core.SkylineCore.Frontier

/**
 * The skyline aggregate as a native [[TypedImperativeAggregate]]. It
 * consumes the dimension expressions directly per input row: no
 * `array(...)` column packing, no encoder round-trip, no `Seq[Double]`
 * boxing — `update` stages the d child values straight into the flat
 * [[Frontier]] buffer and runs its BNL insert, which copies a point in
 * only when it is accepted. Spark still performs partial
 * aggregation (the reference's map-side local skylines) and merges
 * buffers at the final stage; only skyline buffers ever cross the wire,
 * serialized as a flat double payload.
 *
 * It serves the grouped skyline (`skylineBy`), the streaming skyline
 * and SQL `skyline_agg`, where an aggregate is what the surrounding
 * plan needs. The batch `skyline` runs as a parallel verify instead,
 * and `skylineExternal` as filters against a broadcast
 * `SkylineCore.ScoreSorted` (`SkylineOps`), since this aggregate's
 * final merge is one task.
 *
 * Output: array<array<double>> of the skyline points, sorted
 * lexicographically for determinism.
 */
case class SkylineAggExpr(
    dims: Seq[Expression],
    minDir: Array[Boolean],
    maxBuffer: Int = SkylineAggExpr.DefaultMaxBuffer,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Frontier] {

  override def children: Seq[Expression] = dims

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(ArrayType(DoubleType, false), false)

  override def createAggregationBuffer(): Frontier = new Frontier(minDir)

  private def checkCap(f: Frontier): Frontier =
    if (f.size > maxBuffer) throw SkylineAggExpr.skylineCapTrip(maxBuffer) else f

  override def update(f: Frontier, input: InternalRow): Frontier =
    if (SkylineAggExpr.stageRow(dims, f, input) && f.insertStaged()) checkCap(f) else f

  override def merge(a: Frontier, b: Frontier): Frontier = checkCap(a.merge(b))

  override def eval(f: Frontier): Any = {
    val sorted = f.points.sorted(SkylineAggExpr.lexOrder)
    new GenericArrayData(sorted.map(p => new GenericArrayData(p): ArrayData).toArray)
  }

  override def serialize(f: Frontier): Array[Byte] = SkylineAggExpr.writePoints(f.flat, f.size, f.d)

  override def deserialize(bytes: Array[Byte]): Frontier = {
    val buf = new Frontier(minDir)
    SkylineAggExpr.readPoints(ByteBuffer.wrap(bytes))(buf.add)
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SkylineAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SkylineAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SkylineAggExpr = copy(dims = newChildren)

  override def prettyName: String = "skyline"
}

object SkylineAggExpr {
  /** Default buffer cap: 2^20 points. At d = 10 that is ~84 MB of doubles
    * in one buffer — near the ceiling of what a partial-aggregation
    * buffer should ever hold, and far beyond any frontier a user can
    * consume. Override per session with
    * `spark.graft.skyline.maxBufferPoints`. */
  val DefaultMaxBuffer: Int = 1 << 20

  /** Session-configured cap, read by the DataFrame/SQL entry points. */
  def configuredCap(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("spark.graft.skyline.maxBufferPoints")
      .map(_.toInt).getOrElse(DefaultMaxBuffer)

  /** The loud cap trip of both aggregates. The message names the conf
    * key, which [[SkylineOps.isBufferCapTrip]] matches on. */
  private[operators] def capTrip(what: String, maxBuffer: Int, why: String): IllegalStateException =
    new IllegalStateException(
      s"$what buffer exceeded $maxBuffer points (spark.graft.skyline.maxBufferPoints): $why")

  /** The one genuine 100 TB risk of the skyline (SURVEY §7): on high-d or
    * anti-correlated data the skyline itself — and therefore every
    * buffer — can approach the input size, and an executor dies with an
    * opaque OOM mid-shuffle. A bounded buffer turns that into an
    * immediate, diagnosable failure with remedies attached. */
  private[operators] def skylineCapTrip(maxBuffer: Int): IllegalStateException =
    capTrip("skyline", maxBuffer,
      "the Pareto frontier of this data is too large to aggregate safely — at high " +
        "dimensionality or on anti-correlated data the skyline approaches the input size. " +
        "Raise the cap if the result genuinely fits in executor memory, reduce dimensions, " +
        "or pre-filter; a result this size is rarely a useful frontier.")

  /** Stages the row's point into `f`, the input step of both
    * aggregates; false if a coordinate is null (the reference drops rows
    * with missing coordinates). */
  private[operators] def stageRow(dims: Seq[Expression], f: Frontier, input: InternalRow): Boolean = {
    var i = 0
    while (i < f.d) {
      val v = dims(i).eval(input)
      if (v == null) return false
      f.stage(i, v.asInstanceOf[Double])
      i += 1
    }
    true
  }

  /** Lexicographic point order of the sorted outputs. Double.compare,
    * not <: the IEEE operators are not a strict weak order when NaN is
    * present (NaN points are incomparable under dominance, so they can
    * reach the buffer) and TimSort would throw "Comparison method
    * violates its general contract!". */
  private[operators] val lexOrder: Ordering[Array[Double]] = (x: Array[Double], y: Array[Double]) => {
    var i = 0
    var cmp = 0
    while (cmp == 0 && i < x.length) { cmp = java.lang.Double.compare(x(i), y(i)); i += 1 }
    cmp
  }

  /** The buffer codec of both aggregates: an (n, d) int header, then n
    * points of d doubles, read from `flat` in order. Only points cross
    * the wire. */
  private[operators] def writePoints(flat: Array[Double], n: Int, d: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + n * d * 8)
    bb.putInt(n).putInt(d)
    bb.asDoubleBuffer().put(flat, 0, n * d)
    bb.array()
  }

  /** Decodes one [[writePoints]] payload from `bb`'s position, handing
    * each point to `add` in order as (flat array, offset of its first
    * coordinate). */
  private[operators] def readPoints(bb: ByteBuffer)(add: (Array[Double], Int) => Unit): Unit = {
    val n = bb.getInt()
    val d = bb.getInt()
    val flat = new Array[Double](n * d)
    bb.asDoubleBuffer().get(flat)
    bb.position(bb.position() + n * d * 8)
    var i = 0
    while (i < n) { add(flat, i * d); i += 1 }
  }
}
