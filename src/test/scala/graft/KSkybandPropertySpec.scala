package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

import graft.core.{Direction, SkylineCore}
import graft.operators.SkylineOps._

/**
 * `kSkybandOf`, `kSkybandJoin`, the `kSkyband` aggregate and
 * `topKDominating` against brute force over random inputs: k in 1..4, d
 * up to 7 (so the d >= 5 SFS presort runs), NaN, signed zeros and
 * infinities drawn, and sample sizes of 1, 3 and the whole input, so that
 * the sample prune both fires and sees every point. The aggregate runs on
 * three partitions, so partial buffers cross `serialize`, `deserialize`
 * and `merge`. Rows and counts must be identical.
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
    /** Distinct points, -0.0 read as +0.0. */
    private def distinct: Seq[Array[Double]] =
      points.map(_.map(_ + 0.0)).groupBy(p => key(p.toSeq)).values.map(_.head).toSeq
    /** Distinct points with the number each one dominates. */
    def dominated: Seq[(Array[Double], Int)] = {
      val ps = distinct
      ps.map(p => (p, ps.count(q => SkylineCore.dominates(p, q, minDir))))
    }
    /** The k-skyband: distinct points with fewer than k dominators, keyed,
      * with their dominator counts. */
    lazy val band: Set[(Seq[Long], Long)] = {
      val ps = distinct
      ps.map(p => (key(p.toSeq), ps.count(q => SkylineCore.dominates(q, p, minDir)).toLong))
        .filter(_._2 < k).toSet
    }
    /** `got` holds exactly the band's rows and counts, each once. */
    def isBand(got: Seq[(Seq[Long], Long)]): Boolean = got.size == band.size && got.toSet == band
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

  property("kSkybandOf matches a brute dominator count") = forAll(caseGen) { c =>
    c.isBand(SkylineCore.kSkybandOf(c.points, c.minDir, c.k).toSeq
      .map { case (p, n) => (key(p.toSeq), n.toLong) })
  }

  property("kSkybandJoin matches a brute dominator count") = forAll(caseGen) { c =>
    c.isBand(rows(c.frame.kSkybandJoin(c.dims, c.k, sampleSize = c.sampleSize), c.d))
  }

  property("the kSkyband aggregate matches a brute dominator count") = forAll(caseGen) { c =>
    c.isBand(rows(c.frame.repartition(3).kSkyband(c.dims, c.k), c.d))
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
