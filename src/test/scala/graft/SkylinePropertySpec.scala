package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

import graft.core.{Direction, SkylineCore}
import graft.operators.GridHint
import graft.operators.SkylineOps._

/**
 * Property-based tests (SURVEY.md §5.2): the incremental skyline against
 * a brute-force O(n^2) oracle, plus the standard skyline invariants.
 * Raw ScalaCheck `Properties` — sbt runs these through ScalaCheck's own
 * test framework.
 */
object SkylinePropertySpec extends Properties("skyline") {

  /** A point's identity under SQL equality: its coordinates' bits with
    * -0.0 read as +0.0 (NaN bits are canonical). Scala `==` on doubles is
    * false for NaN, so sets are compared by these keys. */
  private type Key = Seq[Long]
  private def key(p: Array[Double]): Key =
    p.toSeq.map(x => java.lang.Double.doubleToLongBits(x + 0.0))

  private def brute(points: Seq[Array[Double]], minDir: Array[Boolean]): Set[Key] = {
    val distinct = points.groupBy(key).values.map(_.head).toSeq
    distinct
      .filter(p => !distinct.exists(q => SkylineCore.dominates(q, p, minDir)))
      .map(key)
      .toSet
  }

  private def keys(points: collection.Seq[Array[Double]]): Set[Key] = points.map(key).toSet

  private def sky(points: Seq[Array[Double]], minDir: Array[Boolean]): Set[Key] = {
    val out = SkylineCore.skylineOf(points, minDir)
    val ks = keys(out)
    require(ks.size == out.size, "duplicate skyline members")
    ks
  }

  // small integer domain to force duplicates and per-dimension ties, plus
  // the IEEE edge values: NaN, both zeros and both infinities
  private val coordGen: Gen[Double] = Gen.frequency(
    24 -> Gen.choose(0, 8).map(_.toDouble),
    1 -> Gen.const(Double.NaN),
    1 -> Gen.const(-0.0),
    1 -> Gen.const(0.0),
    1 -> Gen.const(Double.PositiveInfinity),
    1 -> Gen.const(Double.NegativeInfinity))

  private def pointsGen(d: Int): Gen[List[Array[Double]]] =
    Gen.listOf(Gen.listOfN(d, coordGen).map(_.toArray))

  private def dirGen(d: Int): Gen[Array[Boolean]] =
    Gen.listOfN(d, Gen.oneOf(true, false)).map(_.toArray)

  for (d <- 2 to 7)
    property(s"matches brute-force oracle d=$d") =
      forAll(pointsGen(d), dirGen(d)) { (pts, dirs) =>
        sky(pts, dirs) == brute(pts, dirs)
      }

  property("subset + non-dominated + covering") =
    forAll(pointsGen(3), dirGen(3)) { (pts, dirs) =>
      val s = sky(pts, dirs)
      val inSet = keys(pts)
      val members = pts.filter(p => s.contains(key(p)))
      s.subsetOf(inSet) &&
      members.forall(m => !pts.exists(q => SkylineCore.dominates(q, m, dirs))) &&
      pts.forall(p =>
        s.contains(key(p)) || members.exists(m => SkylineCore.dominates(m, p, dirs)))
    }

  property("invariant under permutation and duplication") =
    forAll(pointsGen(2), dirGen(2), Gen.long) { (pts, dirs, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(pts)
      val base = sky(pts, dirs)
      sky(shuffled, dirs) == base && sky(pts ++ pts, dirs) == base
    }

  property("MIN on x == MAX on -x") =
    forAll(pointsGen(3)) { pts =>
      val neg = pts.map(_.map(-_))
      keys(SkylineCore.skylineOf(neg, Array.fill(3)(false)).map(_.map(-_))) ==
        sky(pts, Array.fill(3)(true))
    }

  property("merge of partial skylines == skyline of union") =
    forAll(pointsGen(3), pointsGen(3), dirGen(3)) { (a, b, dirs) =>
      val merged = SkylineCore.merge(
        SkylineCore.skylineOf(a, dirs),
        SkylineCore.skylineOf(b, dirs),
        dirs)
      merged.size == keys(merged).size && keys(merged) == sky(a ++ b, dirs)
    }

  // Both sides draw from one pool, so the partial skylines share members
  // (and each other's dominators): the merge compares a newcomer only with
  // the larger side's surviving original members and must still collapse
  // the shared points to one.
  property("merge of partial skylines that share points == skyline of union") =
    forAll(pointsGen(4), Gen.long, dirGen(4)) { (pool, seed, dirs) =>
      val rnd = new scala.util.Random(seed)
      val a = pool.filter(_ => rnd.nextInt(3) > 0)
      val b = pool.filter(_ => rnd.nextInt(3) > 0)
      val merged = SkylineCore.merge(
        SkylineCore.skylineOf(a, dirs),
        SkylineCore.skylineOf(b, dirs),
        dirs)
      merged.size == keys(merged).size && keys(merged) == brute(a ++ b, dirs)
    }

  // The reference's geometric best-cell prune (functions.py:177-192) is
  // unsound on sparse data — pin the counterexample so the deviation stays
  // documented: (5,5) is in the true skyline but its cell is pruned. The
  // engine's GridHint(2) keeps it.
  property("reference geometric prune drops a skyline point on sparse data") = {
    val dirs = Array(true, true)
    val bounds = Array((0.0, 8.0), (0.0, 8.0))
    val pts = Seq(Array(0.0, 8.0), Array(8.0, 0.0), Array(5.0, 5.0))
    val keptRef = SkylineCore.keptGridKeys(dirs, 2).toSet
    val cellOf55 = SkylineCore.gridKey(2, SkylineCore.gridDigits(2, bounds, Array(5.0, 5.0)))
    val inTrueSkyline = sky(pts, dirs).contains(key(Array(5.0, 5.0)))
    val spark = SparkTestSession.spark
    import spark.implicits._
    val viaHint = pts.map(p => (p(0), p(1))).toDF("x", "y")
      .skyline(Seq("x" -> Direction.Min, "y" -> Direction.Min), hint = GridHint(2))
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    Prop(inTrueSkyline && !keptRef.contains(cellOf55.toInt) && viaHint.contains((5.0, 5.0)))
  }

  property("angle keys partition: every point gets a key in [0, p^(d-1))") =
    forAll(Gen.listOf(Gen.listOfN(3, Gen.choose(0, 1000)).map(_.map(_.toDouble).toArray)),
      Gen.choose(2, 6)) { (pts, p) =>
      pts.forall { x =>
        val k = SkylineCore.angleKey(p, x)
        k >= 0 && k < p * p
      }
    }
}
