package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.core.{Direction, SkylineCore}
import graft.operators.{AngleHint, DimHint, GridHint, NoHint, PartitionHint}
import graft.operators.SkylineOps._

/**
 * The batch skyline's local stage and parallel verify, under every
 * hint, and the external cascade (`skylineExternal`, windows of 1 to 8
 * points) against `SkylineCore.skylineOf`: 1 to 8 input partitions,
 * empty ones included; d = 1..7 with MIN/MAX mixes (MIN only for
 * `AngleHint`); NaN, signed zeros and infinities drawn; and exact
 * duplicates, some of them copied into another partition, so that equal
 * points reach the verify from different origins. The skyline must come
 * back with each point once.
 */
object SkylineVerifyPropertySpec extends Properties("skylineVerify") {
  private lazy val spark = SparkTestSession.spark

  // each case runs two Spark stages (three under Dim/Grid; a few jobs a
  // pass for the cascade); 30 cases a property keep the spec short
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(30)

  /** A point's identity under SQL equality (-0.0 read as +0.0). */
  private def key(p: Seq[Double]): Seq[Long] =
    p.map(x => java.lang.Double.doubleToLongBits(x + 0.0))

  private val coordGen: Gen[Double] = Gen.frequency(
    24 -> Gen.choose(0, 6).map(_.toDouble),
    1 -> Gen.const(Double.NaN),
    1 -> Gen.const(-0.0),
    1 -> Gen.const(0.0),
    1 -> Gen.const(Double.PositiveInfinity),
    1 -> Gen.const(Double.NegativeInfinity))

  /** `parts(i)` holds the points of input partition `i`. */
  private case class Case(parts: Seq[Seq[Array[Double]]], minDir: Array[Boolean]) {
    val d: Int = minDir.length
    def dims: Seq[(String, Direction)] =
      minDir.indices.map(i => s"x$i" -> (if (minDir(i)) Direction.Min else Direction.Max))
    /** The input as a frame of exactly `parts.size` scan partitions. */
    def frame: DataFrame = {
      val rows = parts.map(_.map(p => Row.fromSeq(p.toSeq)))
      val rdd = spark.sparkContext.parallelize(rows.indices, rows.size).flatMap(rows(_))
      spark.createDataFrame(rdd,
        StructType((0 until d).map(i => StructField(s"x$i", DoubleType, nullable = false))))
    }
    def want: Set[Seq[Long]] =
      SkylineCore.skylineOf(parts.flatten, minDir).map(p => key(p.toSeq)).toSet
    /** `out` holds exactly the skyline's points, each once. */
    def check(out: DataFrame): Boolean = {
      val got = out.collect().toSeq.map(r => key((0 until d).map(r.getDouble)))
      got.size == got.toSet.size && got.toSet == want
    }
  }

  private def caseGen(minOnly: Boolean): Gen[Case] = for {
    d <- Gen.choose(1, 7)
    nParts <- Gen.choose(1, 8)
    pool <- Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.listOfN(d, coordGen).map(_.toArray)))
    home <- Gen.listOfN(pool.size, Gen.choose(0, nParts - 1))
    // a second copy of some points, in any partition (often another one)
    copies <- Gen.listOfN(pool.size, Gen.frequency(3 -> Gen.const(-1), 1 -> Gen.choose(0, nParts - 1)))
    minDir <- Gen.listOfN(d, if (minOnly) Gen.const(true) else Gen.oneOf(true, false)).map(_.toArray)
  } yield {
    val placed = pool.zip(home) ++ pool.zip(copies).filter(_._2 >= 0)
    Case((0 until nParts).map(i => placed.filter(_._2 == i).map(_._1)), minDir)
  }

  private def matches(hint: Gen[PartitionHint], minOnly: Boolean = false) =
    forAll(caseGen(minOnly), hint) { (c, h) => c.check(c.frame.skyline(c.dims, hint = h)) }

  property("NoHint matches skylineOf") = matches(Gen.const(NoHint))
  property("DimHint matches skylineOf") = matches(Gen.choose(1, 4).map(DimHint(_)))
  property("GridHint matches skylineOf") = matches(Gen.choose(1, 3).map(GridHint(_)))
  property("AngleHint matches skylineOf") =
    matches(Gen.choose(1, 4).map(AngleHint(_)), minOnly = true)
  property("skylineExternal matches skylineOf") =
    forAll(caseGen(minOnly = false), Gen.choose(1, 8)) { (c, w) =>
      c.check(c.frame.skylineExternal(c.dims, windowSize = w))
    }
}
