package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Direction.{Max, Min}
import graft.core.SkylineCore
import graft.operators.SkylineOps._

/** k-skyband invariants: candidate maintenance vs an O(n²) brute-force
  * oracle, the k=1 ≡ skyline degeneration, and the distributed
  * aggregate vs the pure core. */
class KSkybandSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def brute(pts: Seq[Array[Double]], minDir: Array[Boolean],
      k: Int): Set[(Seq[Double], Int)] = {
    // set semantics: collapse exact duplicates first
    val distinct = pts.map(_.toSeq).distinct.map(_.toArray)
    distinct.flatMap { p =>
      val c = distinct.count(q => SkylineCore.dominates(q, p, minDir))
      if (c < k) Some((p.toSeq, c)) else None
    }.toSet
  }

  test("core kSkybandOf matches the brute-force oracle across shapes, seeds, and k") {
    val rnd = new scala.util.Random(11)
    for {
      d <- Seq(2, 3)
      k <- Seq(1, 2, 3, 5)
      range <- Seq(8, 1000) // small range forces duplicates + deep dominance chains
      trial <- 1 to 5
    } {
      val n = 300
      val pts = Seq.fill(n)(Array.fill(d)(rnd.nextInt(range).toDouble))
      val minDir = Array.fill(d)(rnd.nextBoolean())
      val got = SkylineCore.kSkybandOf(pts, minDir, k)
        .map { case (p, c) => (p.toSeq, c) }.toSet
      val want = brute(pts, minDir, k)
      assert(got == want, s"d=$d k=$k range=$range trial=$trial")
    }
  }

  test("k=1 degenerates to the skyline (zero dominators each)") {
    val rnd = new scala.util.Random(5)
    val pts = Seq.fill(500)(Array(rnd.nextInt(100).toDouble, rnd.nextInt(100).toDouble))
    val minDir = Array(true, true)
    val band = SkylineCore.kSkybandOf(pts, minDir, 1)
    assert(band.forall(_._2 == 0))
    assert(band.map(_._1.toSeq).toSet ==
      SkylineCore.skylineOf(pts, minDir).map(_.toSeq).toSet)
  }

  test("insertion order does not change the result") {
    val rnd = new scala.util.Random(23)
    val pts = Seq.fill(400)(Array(rnd.nextInt(20).toDouble, rnd.nextInt(20).toDouble))
    val minDir = Array(true, false)
    val a = SkylineCore.kSkybandOf(pts, minDir, 3).map { case (p, c) => (p.toSeq, c) }.toSet
    val b = SkylineCore.kSkybandOf(rnd.shuffle(pts), minDir, 3)
      .map { case (p, c) => (p.toSeq, c) }.toSet
    assert(a == b)
  }

  private def toDf(points: Seq[Array[Double]], d: Int) = {
    import spark.implicits._
    points.map(p => p.toSeq match {
      case Seq(a) => (a, 0.0, 0.0)
      case Seq(a, b) => (a, b, 0.0)
      case Seq(a, b, c) => (a, b, c)
    }).toDF("c0", "c1", "c2").select((0 until d).map(i => col(s"c$i")): _*)
  }

  test("kSkybandJoin equals the aggregate and the brute oracle across dims/dirs/k") {
    val rnd = new scala.util.Random(17)
    for (d <- Seq(2, 3); k <- Seq(1, 3); trial <- 1 to 2) {
      // small integer grid: duplicates + deep dominance chains guaranteed
      val pts = Seq.fill(400)(Array.fill(d)(rnd.nextInt(12).toDouble))
      val minDir = Array.fill(d)(rnd.nextBoolean())
      val dims = (0 until d).map(i =>
        s"c$i" -> (if (minDir(i)) Min else Max): (String, graft.core.Direction))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => ((0 until d).map(r.getDouble), r.getLong(d))).toSet
      // tiny sample forces a weak prune — exactness must not depend on it
      val join = toDf(pts, d).kSkybandJoin(dims, k, sampleSize = 8)
      val gotJ = rows(join)
      join.unpersist(blocking = false)
      val gotA = rows(toDf(pts, d).kSkyband(dims, k))
      val want = brute(pts, minDir, k).map { case (p, c) => (p.toIndexedSeq, c.toLong) }
      assert(gotJ == want, s"join vs brute: d=$d k=$k trial=$trial")
      assert(gotJ == gotA, s"join vs aggregate: d=$d k=$k trial=$trial")
    }
  }

  test("kSkyband aggregate: a duplicate adds no hit before its equal twin rejects it") {
    import spark.implicits._
    // one partition, so one buffer sees the rows in this order (see the
    // core witness in SkylineCoreSpec)
    val df = Seq((2.0, 2.0), (1.0, 1.0), (1.0, 1.0)).toDF("c0", "c1").coalesce(1)
    val got = df.kSkyband(Seq("c0" -> Min, "c1" -> Min), k = 2)
      .collect().map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2))).toSet
    assert(got == Set(((1.0, 1.0), 0L), ((2.0, 2.0), 1L)))
  }

  test("kSkybandJoin: NaN rows are incomparable band members; empty input is empty") {
    import spark.implicits._
    val dims: Seq[(String, graft.core.Direction)] = Seq("c0" -> Min, "c1" -> Min)
    val pts = Seq(
      (1.0, 1.0), (2.0, 2.0), (3.0, 3.0), // chain: counts 0, 1, 2
      (Double.NaN, 0.0))                  // incomparable
    val got = pts.toDF("c0", "c1").kSkybandJoin(dims, k = 2)
      .collect().map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2))).toMap
    assert(got.size == 3 && got(((1.0, 1.0))) == 0L && got(((2.0, 2.0))) == 1L)
    val nanKey = got.keys.find(_._1.isNaN)
    assert(nanKey.isDefined && got(nanKey.get) == 0L,
      s"NaN row must be in-band with 0 dominators: $got")
    assert(Seq.empty[(Double, Double)].toDF("c0", "c1")
      .kSkybandJoin(dims, k = 2).count() == 0)
  }

  test("kSkybandJoin trips loudly past maxCandidates, naming the aggregate fallback") {
    import spark.implicits._
    // anti-correlated: the band IS the input, so candidates ≈ n
    val pts = (0 until 64).map(i => (i.toDouble, (63 - i).toDouble))
    val e = intercept[IllegalArgumentException] {
      pts.toDF("c0", "c1").kSkybandJoin(
        Seq("c0" -> Min, "c1" -> Min), k = 2, maxCandidates = 16)
    }
    assert(e.getMessage.contains("maxCandidates") && e.getMessage.contains("kSkyband"))
  }

  test("kSkybandAuto: cap trip auto-dispatches to the join path with identical rows") {
    import spark.implicits._
    // a perfect 2-D anti-chain: at k=2 every point is in the band, so a
    // 50-point buffer cap MUST trip the aggregate attempt
    val df = (0 until 500).map(i => (i.toDouble, (500 - i).toDouble)).toDF("c0", "c1")
    val dims: Seq[(String, graft.core.Direction)] = Seq("c0" -> Min, "c1" -> Min)
    spark.conf.set("spark.graft.skyline.maxBufferPoints", "50")
    try {
      val auto = df.kSkybandAuto(dims, k = 2)
      val gotAuto = auto.collect()
        .map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2))).toSet
      auto.unpersist(blocking = false)
      assert(gotAuto.size == 500, "auto-dispatch must COMPLETE the cap-trip shape")
      val join = df.kSkybandJoin(dims, k = 2)
      val gotJoin = join.collect()
        .map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2))).toSet
      join.unpersist(blocking = false)
      assert(gotAuto == gotJoin, "auto must equal the join path row for row")
    } finally spark.conf.unset("spark.graft.skyline.maxBufferPoints")
    // happy path: no trip, the aggregate result comes back unchanged
    val small = (0 until 50).map(i => (i.toDouble, (50 - i).toDouble)).toDF("c0", "c1")
    val auto2 = small.kSkybandAuto(dims, k = 1)
    val want = small.kSkyband(dims, k = 1).collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2))).toSet
    assert(auto2.collect()
      .map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2))).toSet == want)
    auto2.unpersist(blocking = false)
  }

  test("SQL surface: kskyband_agg matches the DSL path") {
    import spark.implicits._
    graft.operators.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(3)
    Seq.fill(800)((rnd.nextInt(50).toDouble, rnd.nextInt(50).toDouble))
      .toDF("x", "y").createOrReplaceTempView("band_in")
    val got = spark.sql(
      """SELECT e.p[0] AS x, e.p[1] AS y, e.c AS n_dominators
        |FROM (SELECT explode(kskyband_agg('min,min', 2, x, y)) AS e FROM band_in)""".stripMargin)
      .collect().map(r => ((r.getDouble(0), r.getDouble(1)), r.getInt(2))).toSet
    val want = spark.table("band_in").kSkyband(Seq("x" -> Min, "y" -> Min), k = 2)
      .collect().map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2).toInt)).toSet
    assert(got == want && got.nonEmpty)
    // bad directions fail loudly, naming the function
    for ((dirs, why) <- Seq(
        "min,up" -> "kskyband_agg direction must be min or max, got 'up'",
        "min,min,max" -> "kskyband_agg: 3 directions for 2 dimension columns")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT kskyband_agg('$dirs', 2, x, y) FROM band_in").collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(10)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msgs.contains(why), msgs)
    }
  }

  test("kSkybandBy computes each group's band independently") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = Seq.fill(1500)(
      (s"g${rnd.nextInt(4)}", rnd.nextInt(80).toDouble, rnd.nextInt(80).toDouble))
    val df = rows.toDF("g", "x", "y").repartition(5)
    val got = df.kSkybandBy(Seq("g"), Seq("x" -> Min, "y" -> Min), k = 2)
      .collect().map(r => ((r.getString(0), r.getDouble(1), r.getDouble(2)), r.getLong(3))).toSet
    val want = rows.groupBy(_._1).flatMap { case (g, grp) =>
      SkylineCore.kSkybandOf(grp.map(t => Array(t._2, t._3)), Array(true, true), 2)
        .map { case (p, c) => ((g, p(0), p(1)), c.toLong) }
    }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("k-skyband buffer cap trips loudly when the band exceeds it, never silently") {
    import spark.implicits._
    // a perfect 2-D anti-chain: at k=2 every point is in the band
    val df = (0 until 500).map(i => (i.toDouble, (500 - i).toDouble)).toDF("x", "y")
    val dims = Seq("x" -> Min, "y" -> Min)
    spark.conf.set("spark.graft.skyline.maxBufferPoints", "50")
    try {
      val e = intercept[Exception] { df.kSkyband(dims, k = 2).collect() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(10)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msgs.contains("maxBufferPoints"), msgs)
    } finally spark.conf.unset("spark.graft.skyline.maxBufferPoints")
    // default cap: the same band computes (every point, zero/one dominators)
    assert(df.kSkyband(dims, k = 2).count() == 500)
  }

  test("df.kSkyband equals the pure core (distributed partial/merge path)") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val rows = Seq.fill(3000)((rnd.nextInt(500).toDouble, rnd.nextInt(500).toDouble))
    val df = rows.toDF("x", "y").repartition(7) // force multi-buffer merges
    val got = df.kSkyband(Seq("x" -> Min, "y" -> Max), k = 4)
      .collect().map(r => ((r.getDouble(0), r.getDouble(1)), r.getLong(2))).toSet
    val want = SkylineCore.kSkybandOf(
        rows.map(t => Array(t._1, t._2)), Array(true, false), 4)
      .map { case (p, c) => ((p(0), p(1)), c.toLong) }.toSet
    assert(got == want && got.nonEmpty)
  }

  test("topKDominating matches the brute-force ranking across dims, dirs, k") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    def lexLess(a: Seq[Double], b: Seq[Double]): Boolean =
      a.zip(b).find { case (x, y) => x != y }.exists { case (x, y) => x < y }
    val rnd = new scala.util.Random(31)
    for {
      d <- Seq(2, 3)
      k <- Seq(1, 3, 7)
      range <- Seq(8, 1000) // small range forces duplicates and deep chains
    } {
      val pts = Seq.fill(250)(Array.fill(d)(rnd.nextInt(range).toDouble))
      val minDir = Array.fill(d)(rnd.nextBoolean())
      val dims = (0 until d).map(i =>
        s"x$i" -> (if (minDir(i)) Min else Max): (String, graft.core.Direction))
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(pts.map(p => Row.fromSeq(p.toSeq)), 4),
        StructType((0 until d).map(i => StructField(s"x$i", DoubleType))))
      // sampleSize well below the candidate count stresses the prune path
      val out = df.topKDominating(dims, k, sampleSize = 16)
      val got = out.collect()
        .map(r => ((0 until d).map(r.getDouble).toSeq, r.getLong(d))).toSet
      out.unpersist(blocking = false)
      val distinct = pts.map(_.toSeq).distinct.map(_.toArray)
      val want = distinct
        .map(p => (p.toSeq, distinct.count(q => SkylineCore.dominates(p, q, minDir)).toLong))
        .sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && lexLess(a._1, b._1)))
        .take(k).toSet
      assert(got == want, s"d=$d k=$k range=$range")
    }
  }

  test("topKDominating: NaN rows are incomparable (score 0, tie-broken last)") {
    import spark.implicits._
    val df = Seq((0.0, 0.0), (1.0, 1.0), (2.0, 2.0), (Double.NaN, 0.0)).toDF("x", "y")
    val dims = Seq("x" -> (Min: graft.core.Direction), "y" -> (Min: graft.core.Direction))
    val top3 = df.topKDominating(dims, k = 3)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2))).toSet
    assert(top3 == Set((0.0, 0.0, 2L), (1.0, 1.0, 1L), (2.0, 2.0, 0L)), s"got $top3")
    val top4 = df.topKDominating(dims, k = 4)
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    assert(top4.length == 4 && top4.exists(t => t._1.isNaN && t._3 == 0L))
  }

  test("topKDominating restores integral dim types and honors Max orientation") {
    import spark.implicits._
    val df = Seq((1, 10L), (2, 20L), (3, 30L), (3, 30L)).toDF("a", "b")
    // a MIN, b MAX: (1,10) dominates nothing under (min a, max b) —
    // winner is... a=1 best on a, b=30 best on b: (1,10) vs (3,30)
    // incomparable; (2,20) dominates nothing; set semantics collapse the
    // duplicate (3,30)
    val dims = Seq("a" -> (Min: graft.core.Direction), "b" -> (Max: graft.core.Direction))
    val out = df.topKDominating(dims, k = 3)
    assert(out.schema("a").dataType.typeName == "integer"
      && out.schema("b").dataType.typeName == "long")
    assert(out.count() == 3) // 3 distinct points
  }
}
