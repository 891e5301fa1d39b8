package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.core.{Direction, SkylineCore}
import graft.operators.SkylineOps._

/**
 * `kSkybandJoin` and `topKDominating` against brute force over random
 * inputs: k in 1..4, d up to 7, NaN, signed zeros and infinities drawn,
 * and sample sizes of 1, 3 and the whole input, so that the sample prune
 * both fires and sees every point. Rows and counts must be identical.
 */
object KSkybandPropertySpec extends Properties("kskyband") {
  private lazy val spark = SparkTestSession.spark

  // each case runs a few Spark jobs; 30 cases a property keep the spec short
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

  private case class Case(points: List[Array[Double]], minDir: Array[Boolean], k: Int,
      sampleSize: Int) {
    val d: Int = minDir.length
    def dims: Seq[(String, Direction)] =
      minDir.indices.map(i => s"x$i" -> (if (minDir(i)) Direction.Min else Direction.Max))
    def frame = spark.createDataFrame(points.map(p => Row.fromSeq(p.toSeq)).asJava,
      StructType((0 until d).map(i => StructField(s"x$i", DoubleType, nullable = false))))
    /** Distinct points with the number each one dominates. */
    def dominated: Seq[(Array[Double], Int)] = {
      val ps = points.map(_.map(_ + 0.0)).groupBy(p => key(p.toSeq)).values.map(_.head).toSeq
      ps.map(p => (p, ps.count(q => SkylineCore.dominates(p, q, minDir))))
    }
  }

  private val caseGen: Gen[Case] = for {
    d <- Gen.choose(1, 7)
    n <- Gen.choose(0, 40)
    points <- Gen.listOfN(n, Gen.listOfN(d, coordGen).map(_.toArray))
    minDir <- Gen.listOfN(d, Gen.oneOf(true, false)).map(_.toArray)
    k <- Gen.choose(1, 4)
    sampleSize <- Gen.oneOf(1, 3, math.max(n, 1))
  } yield Case(points, minDir, k, sampleSize)

  private def rows(out: org.apache.spark.sql.DataFrame, d: Int): Seq[(Seq[Long], Long)] =
    out.collect().toSeq.map(r => (key((0 until d).map(r.getDouble)), r.getLong(d)))

  property("kSkybandJoin matches kSkybandOf") = forAll(caseGen) { c =>
    val got = rows(c.frame.kSkybandJoin(c.dims, c.k, sampleSize = c.sampleSize), c.d)
    val want = SkylineCore.kSkybandOf(c.points, c.minDir, c.k)
      .map { case (p, n) => (key(p.toSeq), n.toLong) }
    got.size == want.size && got.toSet == want.toSet
  }

  property("topKDominating matches a brute dominated count") = forAll(caseGen) { c =>
    val got = rows(c.frame.topKDominating(c.dims, c.k, sampleSize = c.sampleSize), c.d)
    val lexAsc: Ordering[Array[Double]] = (x, y) =>
      x.indices.iterator.map(i => java.lang.Double.compare(x(i), y(i))).find(_ != 0).getOrElse(0)
    val want = c.dominated
      .sorted(Ordering.by[(Array[Double], Int), Int](-_._2)
        .orElse(Ordering.by[(Array[Double], Int), Array[Double]](_._1)(lexAsc)))
      .take(c.k).map { case (p, n) => (key(p.toSeq), n.toLong) }
    got == want
  }
}
