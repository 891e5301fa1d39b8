package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Direction, SkylineCore}
import graft.core.Direction.{Max, Min}
import graft.operators._
import graft.operators.SkylineOps._

/** Boundary inputs through every entry point of the skyline family:
  * empty, one row, exact duplicates, a null coordinate, a NaN
  * coordinate, an all-equal dimension, a MAX dimension, -0.0 beside +0.0
  * (equal under SQL, so one point) and infinities of both signs (a point
  * holding +Inf and -Inf has a NaN coordinate sum), each at d = 2
  * and d = 5 (both sides of the d >= 5 SFS presort rule, grouped paths
  * included). Every result is checked row for row against a brute-force
  * oracle: [[SkylineCore.dominates]] over the input's distinct points,
  * with values compared as SQL compares them (-0.0 = 0.0, NaN = NaN). */
class SkylineEdgeInputSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val K = 2    // band depth for the k-skyband entry points
  private val TopK = 3 // rows asked of topKDominating

  /** One edge input: rows of (group, coordinates), null = missing. */
  private case class Input(name: String, rows: Seq[(String, Seq[java.lang.Double])],
      dirs: Seq[Direction]) {
    val minDir: Array[Boolean] = dirs.map(_.isMin).toArray
    def dims: Seq[(String, Direction)] = dirs.zipWithIndex.map { case (dir, i) => s"x${i + 1}" -> dir }
    /** The points the operators see: rows with a null coordinate drop out. */
    def points: Seq[(String, Array[Double])] = rows.collect {
      case (g, p) if p.forall(_ != null) => (g, p.map(_.doubleValue).toArray)
    }
  }

  private def inputs(d: Int): Seq[Input] = {
    val rnd = new scala.util.Random(7L + d)
    def pt(): Seq[java.lang.Double] = Seq.fill(d)(Double.box((1 + rnd.nextInt(9)).toDouble))
    def grouped(pts: Seq[Seq[java.lang.Double]]) =
      pts.zipWithIndex.map { case (p, i) => (if (i % 2 == 0) "a" else "b", p) }
    val base = Seq.fill(24)(pt())
    // an otherwise best-of-all point, so dropping it or keeping it shows
    def best(first: java.lang.Double): Seq[java.lang.Double] =
      first +: Seq.fill(d - 1)(Double.box(0.5))
    def padded(a: Double, b: Double): Seq[java.lang.Double] =
      Seq(Double.box(a), Double.box(b)) ++ best(0.5).drop(2)
    val inf = Double.PositiveInfinity
    val mins = Seq.fill(d)(Min)
    Seq(
      Input("empty", Nil, mins),
      Input("one row", grouped(Seq(pt())), mins),
      Input("exact duplicates", grouped(base.take(8) ++ base.take(8) ++ base.take(3)), mins),
      Input("null coordinate", grouped(base :+ best(null)), mins),
      Input("NaN coordinate", grouped(base :+ best(Double.NaN)), mins),
      Input("all-equal dimension", grouped(base.map(p => Double.box(5.0) +: p.tail)), mins),
      Input("one MAX dimension", grouped(base), mins.init :+ Max),
      Input("signed zeros", grouped(base ++ Seq(best(0.0), best(-0.0), best(-0.0), best(0.0))), mins),
      Input("signed zeros on a MAX dimension", grouped(base ++
        Seq(0.0, -0.0, -0.0).map(z => best(0.5).init :+ Double.box(z))), mins.init :+ Max),
      Input("infinities", grouped(base ++ Seq(padded(-inf, inf), padded(inf, -inf),
        padded(-inf, inf), padded(-inf, 9.0), padded(inf, -inf), padded(1.0, -inf))), mins),
      // a NaN point in the worst grid bucket of its first dimension: an
      // occupied-cell prune drops its cell, though nothing dominates it
      Input("NaN in a dominated grid cell", grouped(Seq(padded(1.0, 1.0),
        padded(Double.NaN, 9.0), padded(5.0, 5.0), padded(9.0, 9.0))), mins))
  }

  private def frame(in: Input, d: Int): DataFrame = {
    val schema = StructType(StructField("g", StringType) +:
      (1 to d).map(i => StructField(s"x$i", DoubleType, nullable = true)))
    spark.createDataFrame(in.rows.map { case (g, p) => Row.fromSeq(g +: p) }.asJava, schema)
  }

  /** A row's cells as SQL values print: -0.0 and 0.0 are one value (the
    * paths that orient MAX dimensions in SQL hand a zero back as -0.0). */
  private def cells(vals: Seq[Any]): Seq[String] = vals.map {
    case x: Double => String.valueOf(x + 0.0)
    case v => String.valueOf(v)
  }

  /** The points once each, under SQL equality. */
  private def distinct(pts: Seq[Array[Double]]): Seq[Array[Double]] =
    pts.groupBy(p => cells(p.toSeq)).values.map(_.head).toSeq
  private def dominators(p: Array[Double], pts: Seq[Array[Double]], minDir: Array[Boolean]): Int =
    pts.count(q => SkylineCore.dominates(q, p, minDir))

  /** Brute-force expectations, as rows of printed cells. */
  private def skylineRows(pts: Seq[Array[Double]], minDir: Array[Boolean]): Seq[Seq[String]] = {
    val ps = distinct(pts)
    ps.filter(dominators(_, ps, minDir) == 0).map(p => cells(p.toSeq))
  }
  private def bandRows(pts: Seq[Array[Double]], minDir: Array[Boolean]): Seq[Seq[String]] = {
    val ps = distinct(pts)
    ps.map(p => (p, dominators(p, ps, minDir))).collect { case (p, c) if c < K => cells(p.toSeq :+ c) }
  }
  private def perGroup(in: Input)(
      rows: (Seq[Array[Double]], Array[Boolean]) => Seq[Seq[String]]): Seq[Seq[String]] =
    in.points.groupBy(_._1).toSeq.flatMap { case (g, gp) => rows(gp.map(_._2), in.minDir).map(g +: _) }
  /** Top-k dominating by hand: score = points strictly dominated, over
    * distinct points; order score desc, then coordinates ascending. */
  private def topDominatingRows(in: Input): Seq[Seq[String]] = {
    val ps = distinct(in.points.map(_._2))
    val lexAsc: Ordering[Array[Double]] = (x, y) =>
      x.indices.iterator.map(i => java.lang.Double.compare(x(i), y(i))).find(_ != 0).getOrElse(0)
    ps
      .map(p => (p, ps.count(q => SkylineCore.dominates(p, q, in.minDir))))
      .sorted(Ordering.by[(Array[Double], Int), Int](-_._2)
        .orElse(Ordering.by[(Array[Double], Int), Array[Double]](_._1)(lexAsc)))
      .take(TopK).map { case (p, c) => cells(p.toSeq :+ c) }
  }

  /** An entry point: whether it accepts MAX dimensions, whether its row
    * order is part of the result, how to run it and what it must return. */
  private case class Op(name: String, allowsMax: Boolean, ordered: Boolean,
      run: (DataFrame, Input) => DataFrame, want: Input => Seq[Seq[String]])

  private val skylineWant = (in: Input) => skylineRows(in.points.map(_._2), in.minDir)
  private val bandWant = (in: Input) => bandRows(in.points.map(_._2), in.minDir)
  private def hinted(hint: PartitionHint, allowsMax: Boolean = true) =
    Op(s"skyline($hint)", allowsMax, ordered = false,
      (df, in) => df.skyline(in.dims, hint = hint), skylineWant)

  private val ops = Seq(
    hinted(NoHint), hinted(DimHint(3)), hinted(GridHint(3)), hinted(AngleHint(3), allowsMax = false),
    Op("skylineBy", allowsMax = true, ordered = false,
      (df, in) => df.skylineBy(Seq("g"), in.dims), in => perGroup(in)(skylineRows)),
    Op("kSkyband", allowsMax = true, ordered = false,
      (df, in) => df.kSkyband(in.dims, K), bandWant),
    Op("kSkybandBy", allowsMax = true, ordered = false,
      (df, in) => df.kSkybandBy(Seq("g"), in.dims, K), in => perGroup(in)(bandRows)),
    Op("kSkybandJoin", allowsMax = true, ordered = false,
      (df, in) => df.kSkybandJoin(in.dims, K), bandWant),
    Op("skylineExternal", allowsMax = true, ordered = false,
      (df, in) => df.skylineExternal(in.dims, windowSize = 4), skylineWant),
    Op("topKDominating", allowsMax = true, ordered = true,
      (df, in) => df.topKDominating(in.dims, TopK), topDominatingRows))

  test("a zero on a MAX dimension comes back as +0.0 from every entry point") {
    val plusZero = java.lang.Double.doubleToRawLongBits(0.0)
    for {
      op <- ops if op.allowsMax
      d <- Seq(2, 5)
      in <- inputs(d) if in.name == "signed zeros on a MAX dimension"
    } {
      val out = op.run(frame(in, d), in)
      val zeros = try out.collect().toSeq.flatMap(_.toSeq).collect { case x: Double if x == 0.0 => x }
        finally out.unpersist(blocking = false)
      val wantZero = op.want(in).exists(_.contains("0.0"))
      assert(zeros.nonEmpty == wantZero && zeros.forall(java.lang.Double.doubleToRawLongBits(_) == plusZero),
        s"${op.name} at d=$d: $zeros")
    }
  }

  for (op <- ops) test(s"${op.name}: edge inputs at d = 2 and 5 match brute force") {
    for {
      d <- Seq(2, 5)
      in <- inputs(d) if op.allowsMax || in.dirs.forall(_ == Min)
    } {
      val out = op.run(frame(in, d), in)
      val got = try out.collect().toSeq.map(r => cells(r.toSeq))
        finally out.unpersist(blocking = false)
      val want = op.want(in)
      val clue = s"${op.name} on '${in.name}' at d=$d"
      if (op.ordered) assert(got == want, clue)
      else assert(got.sortBy(_.mkString(",")) == want.sortBy(_.mkString(",")), clue)
    }
  }
}
