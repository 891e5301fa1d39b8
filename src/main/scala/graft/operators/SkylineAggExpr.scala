package graft.operators

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.core.SkylineCore
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
 * With a `cell` key (the partitioning hints), the buffer holds one
 * frontier per cell ([[SkylineAggExpr.Cells]]), buffers merge cell by
 * cell, and `eval` combines the cells with [[SkylineCore.mergeCells]].
 *
 * Output: array<array<double>> of the skyline points, sorted
 * lexicographically for determinism.
 */
case class SkylineAggExpr(
    dims: Seq[Expression],
    minDir: Array[Boolean],
    maxBuffer: Int = SkylineAggExpr.DefaultMaxBuffer,
    cell: Option[Expression] = None,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[AnyRef] {

  override def children: Seq[Expression] = dims ++ cell
  // an unkeyed aggregate prints as it did before the key existed
  override protected def stringArgs: Iterator[Any] = super.stringArgs.filter(_ != None)

  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(ArrayType(DoubleType, false), false)

  override def createAggregationBuffer(): AnyRef =
    if (cell.isEmpty) new Frontier(minDir) else new SkylineAggExpr.Cells(minDir)

  /** The one genuine 100 TB risk of this aggregate (SURVEY §7): on high-d
    * or anti-correlated data the skyline itself — and therefore every
    * buffer — can approach the input size, and an executor dies with an
    * opaque OOM mid-shuffle. A bounded buffer turns that into an
    * immediate, diagnosable failure with remedies attached. The count
    * covers the points of every cell. */
  private def checkCap(points: Int): Unit =
    if (points > maxBuffer) throw SkylineAggExpr.capTrip("skyline", maxBuffer,
      "the Pareto frontier of this data is too large to aggregate safely — at high " +
        "dimensionality or on anti-correlated data the skyline approaches the input size. " +
        "Raise the cap if the result genuinely fits in executor memory, reduce dimensions, " +
        "or pre-filter; a result this size is rarely a useful frontier.")

  /** Inserts the row's point into `f`; how much `f` grew. */
  private def insertRow(f: Frontier, input: InternalRow): Int = {
    if (!SkylineAggExpr.stageRow(dims, f, input)) return 0
    val before = f.size
    if (f.insertStaged()) f.size - before else 0
  }

  override def update(buf: AnyRef, input: InternalRow): AnyRef = {
    buf match {
      case f: Frontier => if (insertRow(f, input) > 0) checkCap(f.size)
      case cs: SkylineAggExpr.Cells =>
        val grown = insertRow(cs.of(cell.get.eval(input)), input)
        if (grown > 0) { cs.total += grown; checkCap(cs.total) }
    }
    buf
  }

  override def merge(a: AnyRef, b: AnyRef): AnyRef = (a, b) match {
    case (x: Frontier, y: Frontier) =>
      val m = x.merge(y)
      checkCap(m.size)
      m
    case (x: SkylineAggExpr.Cells, y: SkylineAggExpr.Cells) =>
      x.absorb(y)
      checkCap(x.total)
      x
  }

  override def eval(buf: AnyRef): Any = {
    val sky = buf match {
      case f: Frontier => f
      case cs: SkylineAggExpr.Cells => SkylineCore.mergeCells(minDir, cs.frontiers.values)
    }
    val sorted = sky.points.sorted(SkylineAggExpr.lexOrder)
    new GenericArrayData(sorted.map(p => new GenericArrayData(p): ArrayData).toArray)
  }

  override def serialize(buf: AnyRef): Array[Byte] = buf match {
    case f: Frontier => SkylineAggExpr.writePoints(f.flat, f.size, f.d)
    case cs: SkylineAggExpr.Cells => cs.bytes
  }

  override def deserialize(bytes: Array[Byte]): AnyRef = {
    val bb = ByteBuffer.wrap(bytes)
    if (cell.isEmpty) {
      val buf = new Frontier(minDir)
      SkylineAggExpr.readPoints(bb)(buf.add)
      buf
    } else {
      val cs = new SkylineAggExpr.Cells(minDir)
      for (_ <- 0 until bb.getInt()) {
        val f = cs.of(bb.getLong())
        SkylineAggExpr.readPoints(bb)(f.add)
        cs.total += f.size
      }
      cs
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): SkylineAggExpr =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SkylineAggExpr =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SkylineAggExpr =
    if (cell.isEmpty) copy(dims = newChildren)
    else copy(dims = newChildren.init, cell = Some(newChildren.last))

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

  /** The keyed buffer: one frontier per cell key, and the running total
    * of their points (the cap's count). */
  private[operators] final class Cells(minDir: Array[Boolean]) {
    val frontiers = new mutable.LongMap[Frontier]
    var total = 0

    /** The frontier of the cell keyed `key` (a Long), created empty. */
    def of(key: Any): Frontier =
      frontiers.getOrElseUpdate(key.asInstanceOf[Long], new Frontier(minDir))

    /** Merges `that`'s cells into these, cell by cell. */
    def absorb(that: Cells): Unit = that.frontiers.foreachEntry { (key, f) =>
      frontiers.get(key) match {
        case Some(mine) =>
          val before = mine.size
          val merged = mine.merge(f)
          total += merged.size - before
          frontiers(key) = merged
        case None =>
          frontiers(key) = f
          total += f.size
      }
    }

    /** A cell count, then per cell in key order its key and its points
      * as [[writePoints]] lays them out. */
    def bytes: Array[Byte] = {
      val keys = frontiers.keys.toArray.sorted
      val bb = ByteBuffer.allocate(4 + keys.map(k => 8 + pointBytes(frontiers(k).size, minDir.length)).sum)
      bb.putInt(keys.length)
      for (k <- keys) {
        val f = frontiers(k)
        putPoints(bb.putLong(k), f.flat, f.size, f.d)
      }
      bb.array()
    }
  }

  /** The buffer codec of both aggregates: an (n, d) int header, then n
    * points of d doubles, read from `flat` in order. Only points cross
    * the wire. */
  private[operators] def writePoints(flat: Array[Double], n: Int, d: Int): Array[Byte] = {
    val bb = ByteBuffer.allocate(pointBytes(n, d))
    putPoints(bb, flat, n, d)
    bb.array()
  }

  private def pointBytes(n: Int, d: Int): Int = 8 + n * d * 8

  private def putPoints(bb: ByteBuffer, flat: Array[Double], n: Int, d: Int): Unit = {
    bb.putInt(n).putInt(d)
    bb.asDoubleBuffer().put(flat, 0, n * d)
    bb.position(bb.position() + n * d * 8)
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
