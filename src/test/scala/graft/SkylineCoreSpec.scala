package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Direction, SkylineCore, SkylineQuery}
import graft.core.SkylineCore._

/**
 * Unit tests for the pure skyline math. Test vectors come from the
 * reference's own docstrings (`/root/reference/src/utils/functions.py`),
 * which give worked examples for every partitioner.
 */
class SkylineCoreSpec extends AnyFunSuite {

  private val minMin = Array(true, true)

  // ---- dominance truth table (functions.py:6-27) ------------------------

  test("dominance: strictly better on all dims dominates") {
    assert(dominates(Array(1.0, 1.0), Array(2.0, 2.0), minMin))
    assert(!dominates(Array(2.0, 2.0), Array(1.0, 1.0), minMin))
  }

  test("dominance: better on one, equal on rest dominates") {
    assert(dominates(Array(1.0, 2.0), Array(2.0, 2.0), minMin))
    assert(dominates(Array(2.0, 1.0), Array(2.0, 2.0), minMin))
  }

  test("dominance: equal points do NOT dominate each other") {
    assert(!dominates(Array(2.0, 2.0), Array(2.0, 2.0), minMin))
  }

  test("dominance: incomparable points do not dominate") {
    assert(!dominates(Array(1.0, 3.0), Array(3.0, 1.0), minMin))
    assert(!dominates(Array(3.0, 1.0), Array(1.0, 3.0), minMin))
  }

  test("dominance respects MAX directions") {
    val maxMin = Array(false, true)
    assert(dominates(Array(5.0, 1.0), Array(3.0, 2.0), maxMin))
    assert(!dominates(Array(3.0, 2.0), Array(5.0, 1.0), maxMin))
  }

  // ---- incremental skyline (functions.py:29-54) -------------------------

  private def members(f: Frontier): Seq[Seq[Double]] = f.points.map(_.toSeq).toSeq

  test("insert drops dominated incumbents and duplicates") {
    val f = new Frontier(minMin)
    assert(f.insert(Array(5.0, 5.0)))
    assert(f.insert(Array(3.0, 6.0))) // incomparable -> both stay
    assert(f.insert(Array(6.0, 1.0)))
    assert(members(f) == Seq(Seq(5.0, 5.0), Seq(3.0, 6.0), Seq(6.0, 1.0)))
    assert(!f.insert(Array(5.0, 5.0))) // exact duplicate -> collapsed
    assert(f.size == 3)
    // dominates the first two: the survivor keeps its place, the new point comes last
    assert(f.insert(Array(2.0, 2.0)))
    assert(members(f) == Seq(Seq(6.0, 1.0), Seq(2.0, 2.0)))
    assert(!f.insert(Array(4.0, 4.0))) // dominated -> dropped
    assert(members(f) == Seq(Seq(6.0, 1.0), Seq(2.0, 2.0)))
  }

  test("insert: tied scores and NaN scores take the full comparison") {
    val f = new Frontier(minMin)
    // distinct points with equal coordinate sums (4.0): incomparable, all stay
    Seq(Array(1.0, 3.0), Array(3.0, 1.0), Array(2.0, 2.0)).foreach(p => assert(f.insert(p)))
    assert(!f.insert(Array(2.0, 2.0))) // tied score, equal point
    // +Inf meeting -Inf makes the score NaN: incomparable with everything
    assert(f.insert(Array(Double.PositiveInfinity, Double.NegativeInfinity)))
    assert(!f.insert(Array(Double.PositiveInfinity, Double.NegativeInfinity)))
    // a NaN coordinate: incomparable, and equal (NaN == NaN) to its duplicate only
    assert(f.insert(Array(Double.NaN, 0.0)))
    assert(!f.insert(Array(Double.NaN, 0.0)))
    assert(f.insert(Array(Double.NaN, -1.0)))
    assert(f.size == 6)
    // dominates the finite members only
    assert(f.insert(Array(0.0, 0.0)))
    assert(members(f).map(_.mkString(",")) ==
      Seq("Infinity,-Infinity", "NaN,0.0", "NaN,-1.0", "0.0,0.0"))
  }

  test("insert collapses -0.0 and +0.0, under MIN and MAX alike") {
    for (dirs <- Seq(minMin, Array(false, true))) {
      val f = new Frontier(dirs)
      assert(f.insert(Array(0.0, 1.0)))
      assert(!f.insert(Array(-0.0, 1.0)), dirs.toSeq)
      assert(members(f).map(_.map(java.lang.Double.doubleToRawLongBits)) ==
        Seq(Seq(0.0, 1.0).map(java.lang.Double.doubleToRawLongBits)), dirs.toSeq)
    }
  }

  test("merge keeps the larger skyline's survivors first, then the smaller's newcomers") {
    val big = Frontier.of(Seq(Array(1.0, 9.0), Array(5.0, 5.0), Array(9.0, 1.0)), minMin)
    // (4,4) evicts (5,5); (1,9) equals a member and is dropped
    val small = Frontier.of(Seq(Array(4.0, 4.0), Array(1.0, 9.0)), minMin)
    val m = small.merge(big)
    assert(m eq big)
    assert(members(m) == Seq(Seq(1.0, 9.0), Seq(9.0, 1.0), Seq(4.0, 4.0)))
  }

  test("merge equals skyline of union") {
    val a = skylineOf(Seq(Array(1.0, 9.0), Array(5.0, 5.0)), minMin)
    val b = skylineOf(Seq(Array(2.0, 2.0), Array(9.0, 1.0)), minMin)
    val m = merge(a, b, minMin).map(_.toSeq).toSet
    val u = skylineOf(
      Seq(Array(1.0, 9.0), Array(5.0, 5.0), Array(2.0, 2.0), Array(9.0, 1.0)),
      minMin).map(_.toSeq).toSet
    assert(m == u)
    assert(m == Set(Seq(1.0, 9.0), Seq(2.0, 2.0), Seq(9.0, 1.0)))
  }

  test("k-skyband: a duplicate adds no hit before its equal twin rejects it") {
    // the second (1,1) dominates (2,2) and meets it before its equal twin;
    // a hit applied then would give (2,2) a second dominator and drop it
    val band = kSkybandOf(Seq(Array(2.0, 2.0), Array(1.0, 1.0), Array(1.0, 1.0)), minMin, k = 2)
    assert(band.map { case (p, c) => (p.toSeq, c) } == Seq((Seq(2.0, 2.0), 1), (Seq(1.0, 1.0), 0)))
  }

  // ---- MR_DIM (functions.py:57-73) --------------------------------------

  test("dimKey: reference docstring vectors, domain [0,10]") {
    // b=2 bits used by the grid examples
    assert(dimKey(2, 0, 10, 1) == 0)
    assert(dimKey(2, 0, 10, 6) == 1)
    assert(dimKey(2, 0, 10, 10) == 1) // x == MAX clamps to p-1
    // b=4 digits
    assert(dimKey(4, 0, 10, 1) == 0)
    assert(dimKey(4, 0, 10, 6) == 2)
    assert(dimKey(4, 0, 10, 10) == 3)
    assert(dimKey(4, 0, 10, 3) == 1)
    assert(dimKey(4, 0, 10, 2) == 0)
    assert(dimKey(4, 0, 10, 8) == 3)
    assert(dimKey(4, 0, 10, 7) == 2)
  }

  // ---- MR_GRID (functions.py:76-220) ------------------------------------

  private val b10 = Array((0.0, 10.0), (0.0, 10.0), (0.0, 10.0))

  test("gridKey: reference docstring vectors b=2") {
    assert(gridKey(2, gridDigits(2, b10, Array(1.0, 6.0, 10.0))) == 6)
    assert(gridKey(2, gridDigits(2, b10, Array(6.0, 10.0, 7.0))) == 7)
    assert(gridKey(2, gridDigits(2, b10, Array(6.0, 1.0, 1.0))) == 1)
    val b5 = Array.fill(5)((0.0, 10.0))
    assert(gridKey(2, gridDigits(2, b5, Array(3.0, 2.0, 6.0, 8.0, 1.0))) == 12)
  }

  test("gridKey: reference docstring vectors b=4") {
    assert(gridKey(4, gridDigits(4, b10, Array(1.0, 6.0, 10.0))) == 56)
    assert(gridKey(4, gridDigits(4, b10, Array(6.0, 10.0, 7.0))) == 46)
    assert(gridKey(4, gridDigits(4, b10, Array(6.0, 1.0, 1.0))) == 2)
    val b5 = Array.fill(5)((0.0, 10.0))
    assert(gridKey(4, gridDigits(4, b5, Array(3.0, 2.0, 6.0, 8.0, 1.0))) == 225)
  }

  test("bestGridDigits: reference docstring vectors") {
    assert(bestGridDigits(Array(true, true, true), 5).sameElements(Array(0, 0, 0)))
    assert(bestGridDigits(Array(true, true, false), 5).sameElements(Array(0, 0, 4)))
    assert(bestGridDigits(Array(false, false, false), 5).sameElements(Array(4, 4, 4)))
  }

  test("decimalToBase: reference docstring vectors") {
    assert(decimalToBase(3, 2, 3).sameElements(Array(1, 1, 0)))
    assert(decimalToBase(1, 2, 3).sameElements(Array(1, 0, 0)))
    assert(decimalToBase(3, 3, 3).sameElements(Array(0, 1, 0)))
    assert(decimalToBase(25, 3, 5).sameElements(Array(1, 2, 2, 0, 0)))
    assert(decimalToBase(0, 3, 5).sameElements(Array(0, 0, 0, 0, 0)))
    assert(decimalToBase(11, 10, 5).sameElements(Array(1, 1, 0, 0, 0)))
  }

  test("keptGridKeys: exactly b^d - (b-1)^d cells survive (README.md:55-57)") {
    for (b <- 2 to 5; d <- 2 to 4) {
      val kept = keptGridKeys(Array.fill(d)(true), b)
      assert(kept.size == math.pow(b, d).toInt - math.pow(b - 1, d).toInt, s"b=$b d=$d")
    }
    // mixed directions keep the same count
    assert(keptGridKeys(Array(true, false, true), 3).size == 27 - 8)
  }

  test("keptGridKeys: best cell survives, worst cell is pruned (minmin b=2 d=2)") {
    val kept = keptGridKeys(Array(true, true), 2)
    assert(kept.contains(0)) // best (0,0)
    assert(!kept.contains(3)) // (1,1) dominated by best
    assert(kept == Seq(0, 1, 2))
  }

  // ---- MR_ANGLE (functions.py:223-300) ----------------------------------

  test("angleDimKey: reference docstring vectors (phi given in degrees)") {
    def atDeg(p: Int, deg: Double): Int =
      angleDimKey(p, 1.0, math.tan(math.toRadians(deg)))
    assert(atDeg(2, 50) == 1) // 50 in 45-90
    assert(atDeg(4, 10) == 0) // 10 in 0-22.5
    assert(atDeg(9, 79) == 7) // 79 in 70-80
    assert(angleDimKey(5, 0.0, 123.0) == 4) // v_i == 0 -> last bucket
  }

  test("angleKey: d=2 p=2 quadrant split at 45 degrees") {
    assert(angleKey(2, Array(3.0, 1.0)) == 0) // shallow angle
    assert(angleKey(2, Array(1.0, 3.0)) == 1) // steep angle
  }

  test("angleKey: key range is p^(d-1)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val x = Array.fill(3)(rnd.nextDouble() * 100)
      val k = angleKey(4, x)
      assert(k >= 0 && k < 16)
    }
  }

  // ---- parser (functions.py:303-333) ------------------------------------

  test("parser accepts the reference grammar") {
    assert(SkylineQuery.parse("SKYLINE OF x1 MIN, x2 MAX") ==
      Seq("x1" -> Direction.Min, "x2" -> Direction.Max))
    assert(SkylineQuery.parse("skyline of price min") == Seq("price" -> Direction.Min))
  }

  test("parser rejection rules") {
    intercept[IllegalArgumentException](SkylineQuery.parse("SKYLINE OF"))
    intercept[IllegalArgumentException](SkylineQuery.parse("SELECT * FROM t"))
    intercept[IllegalArgumentException](SkylineQuery.parse("SKYLINE OF x1 AVG"))
    intercept[IllegalArgumentException](SkylineQuery.parse("SKYLINE OF x1"))
    // keyword prefix needs a word boundary: OFprice is not OF price
    intercept[IllegalArgumentException](SkylineQuery.parse("SKYLINE OFprice MIN"))
    intercept[IllegalArgumentException](SkylineQuery.parse("SKYLINEOF price MIN"))
  }

  test("parser tolerates repeated whitespace between keywords") {
    assert(SkylineQuery.parse("SKYLINE  OF\t price MIN") ==
      Seq("price" -> Direction.Min))
  }
}
