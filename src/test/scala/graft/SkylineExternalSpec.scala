package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Direction, SkylineCore}
import graft.core.Direction.{Max, Min}
import graft.operators.SkylineOps
import graft.operators.SkylineOps._

/**
 * The bounded-memory external skyline ([[graft.operators.SkylineOps]]
 * `skylineExternal`) against the O(n^2) brute-force oracle and the
 * in-memory operator, with windows small enough to force many cascade
 * passes — the frontier-heavy completion path of VERDICT r7 item 5.
 */
class SkylineExternalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def brute(points: Seq[Array[Double]], minDir: Array[Boolean]): Set[Seq[Double]] = {
    val distinct = points.map(_.toSeq).distinct.map(_.toArray)
    distinct
      .filter(p => !distinct.exists(q => SkylineCore.dominates(q, p, minDir)))
      .map(_.toSeq)
      .toSet
  }

  private def toDf(points: Seq[Array[Double]], d: Int) = {
    import spark.implicits._
    points.map(p => p.toSeq match {
      case Seq(a) => (a, 0.0, 0.0, 0.0)
      case Seq(a, b) => (a, b, 0.0, 0.0)
      case Seq(a, b, c) => (a, b, c, 0.0)
      case Seq(a, b, c, e) => (a, b, c, e)
    }).toDF("c0", "c1", "c2", "c3").select((0 until d).map(i => col(s"c$i")): _*)
  }

  private def collectSet(df: org.apache.spark.sql.DataFrame, d: Int): Set[Seq[Double]] =
    df.collect().map(r => (0 until d).map(i => r.getDouble(i))).toSet

  test("equals brute force and the in-memory operator across dims/dirs (window 8)") {
    val rnd = new scala.util.Random(7L)
    for (d <- 2 to 4; trial <- 1 to 3) {
      // small integer domain: duplicates and per-dim ties guaranteed,
      // which also exercises the E-closed boundary (integer grids
      // produce massive score-tie blocks)
      val pts = Vector.fill(250)(Array.fill(d)(rnd.nextInt(9).toDouble))
      val dirs: Seq[(String, Direction)] =
        (0 until d).map(i => s"c$i" -> (if (rnd.nextBoolean()) Min else Max))
      val minDir = dirs.map(_._2.isMin).toArray
      val want = brute(pts, minDir)
      val gotExt = collectSet(toDf(pts, d).skylineExternal(dirs, windowSize = 8), d)
      val gotMem = collectSet(toDf(pts, d).skyline(dirs), d)
      assert(gotExt == want, s"d=$d trial=$trial external vs brute")
      assert(gotExt == gotMem, s"d=$d trial=$trial external vs in-memory")
    }
  }

  test("frontier-heavy (anti-correlated) data completes under a cap the in-memory path trips") {
    val rnd = new scala.util.Random(11L)
    // points on the simplex (componentwise-positive, equal sums): no
    // point dominates another, so the frontier IS the input — the
    // cap_trip scenario of SKYBENCH_r7
    val pts = Vector.fill(500) {
      val raw = Array.fill(3)(rnd.nextDouble() + 0.01)
      val s = raw.sum
      raw.map(_ / s)
    }.distinct
    val dims: Seq[(String, Direction)] = Seq("c0" -> Min, "c1" -> Min, "c2" -> Min)
    spark.conf.set("spark.graft.skyline.maxBufferPoints", "200")
    try {
      def mentionsCap(t: Throwable): Boolean =
        t != null && (t.toString.contains("maxBufferPoints") || mentionsCap(t.getCause))
      val ex = intercept[Exception] {
        toDf(pts, 3).skyline(dims).count()
      }
      assert(mentionsCap(ex), s"in-memory path should trip the 200-point cap, got $ex")
      val got = collectSet(toDf(pts, 3).skylineExternal(dims, windowSize = 32), 3)
      assert(got == pts.map(_.toSeq).toSet,
        "external path must return the full frontier without tripping the cap")
    } finally spark.conf.unset("spark.graft.skyline.maxBufferPoints")
  }

  test("exact duplicates collapse; empty input yields empty output") {
    val pts = Vector(Array(1.0, 2.0), Array(1.0, 2.0), Array(3.0, 1.0), Array(3.0, 1.0))
    val dims: Seq[(String, Direction)] = Seq("c0" -> Min, "c1" -> Min)
    val got = toDf(pts, 2).skylineExternal(dims, windowSize = 1)
    assert(got.count() == 2, "duplicates must collapse (set semantics)")
    // (1,1) alone heads pass 1; the two others tie in pass 2
    toDf(Vector(Array(0.0, 10.0), Array(1.0, 1.0), Array(10.0, 0.0)), 2)
      .skylineExternal(dims, windowSize = 1)
    assert(SkylineOps.lastExternalPassCount == 2)
    assert(toDf(Vector.empty, 2).skylineExternal(dims).count() == 0)
    assert(SkylineOps.lastExternalPassCount == 0, "an empty input must not keep the last pass count")
  }

  test("an infinite coordinate keeps the window schedule") {
    val rnd = new scala.util.Random(5L)
    // anti-correlated: every point is on the frontier, so each pass
    // takes one window; a NaN score would put every point in pass 1
    val base = Vector.fill(50) {
      val raw = Array.fill(2)(rnd.nextDouble() + 0.01); val s = raw.sum
      raw.map(_ / s)
    }
    val dims: Seq[(String, Direction)] = Seq("c0" -> Min, "c1" -> Min)
    for (inf <- Seq(Array(Double.NegativeInfinity, 100.0), Array(Double.PositiveInfinity, -1.0))) {
      val pts = base :+ inf
      val got = collectSet(toDf(pts, 2).skylineExternal(dims, windowSize = 1), 2)
      assert(got == brute(pts, Array(true, true)), s"with ${inf.toSeq}")
      assert(SkylineOps.lastExternalPassCount > 1,
        s"with ${inf.toSeq}: ${SkylineOps.lastExternalPassCount} pass(es)")
    }
  }

  test("the cascade plans no broadcast nested-loop join") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val sentinelSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "graft_sentinel")) sentinelSeen.countDown()
        else plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val rnd = new scala.util.Random(13L)
      // enough points for the sampled pre-filter, and a window small
      // enough for several passes
      val pts = Vector.fill(400)(Array.fill(3)(rnd.nextDouble()))
      val dims: Seq[(String, Direction)] = Seq("c0" -> Min, "c1" -> Max, "c2" -> Min)
      toDf(pts, 3).skylineExternal(dims, windowSize = 4)
      assert(SkylineOps.lastExternalPassCount > 1)
      // listener events arrive in order, so once this query's event is
      // in, so is every earlier query's
      spark.range(1).toDF("graft_sentinel").collect()
      assert(sentinelSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(!plans.isEmpty)
      plans.forEach(p => assert(!p.contains("BroadcastNestedLoopJoin"), p))
    } finally spark.listenerManager.unregister(listener)
  }

  test("NaN rows are incomparable and survive, matching the in-memory operator") {
    val pts = Vector(
      Array(1.0, 1.0), Array(2.0, 2.0), // (2,2) dominated
      Array(Double.NaN, 0.0), Array(0.0, Double.NaN))
    val dims: Seq[(String, Direction)] = Seq("c0" -> Min, "c1" -> Min)
    def key(s: Set[Seq[Double]]) = s.map(_.map(v => if (v.isNaN) "nan" else v.toString))
    val gotExt = key(collectSet(toDf(pts, 2).skylineExternal(dims, windowSize = 2), 2))
    val gotMem = key(collectSet(toDf(pts, 2).skyline(dims), 2))
    assert(gotExt == gotMem)
    assert(gotExt.size == 3, s"NaN points never dominated: $gotExt")
  }

  test("non-local master without a configured externalDir trips loudly, naming the conf key") {
    // local masters pass with or without the conf
    SkylineOps.requireSharedExternalDir(masterIsLocal = true, configured = None)
    SkylineOps.requireSharedExternalDir(masterIsLocal = false,
      configured = Some("hdfs:///tmp/skyext"))
    val ex = intercept[IllegalArgumentException] {
      SkylineOps.requireSharedExternalDir(masterIsLocal = false, configured = None)
    }
    assert(ex.getMessage.contains("spark.graft.skyline.externalDir"),
      s"trip message must name the conf key: ${ex.getMessage}")
  }

  test("run dirs are retained for lazy reads, then reclaimed by cleanExternalRuns") {
    val base = java.nio.file.Files.createTempDirectory("skyext-retention-").toString
    spark.conf.set("spark.graft.skyline.externalDir", base)
    try {
      val pts = Vector(Array(1.0, 2.0), Array(2.0, 1.0), Array(3.0, 3.0))
      val dims: Seq[(String, Direction)] = Seq("c0" -> Min, "c1" -> Min)
      val got = toDf(pts, 2).skylineExternal(dims, windowSize = 1)
      assert(collectSet(got, 2) == Set(Seq(1.0, 2.0), Seq(2.0, 1.0)))
      // the result run must still be on disk: the frame reads it lazily
      def runDirs = new java.io.File(base).listFiles()
        .filter(_.getName.startsWith("skyext-")).toSeq
      assert(runDirs.nonEmpty, "run dir must be retained while the frame is live")
      assert(collectSet(got, 2).size == 2, "second read of the same frame works")
      SkylineOps.cleanExternalRuns()
      assert(runDirs.isEmpty, s"cleanExternalRuns must remove run dirs, left: $runDirs")
    } finally spark.conf.unset("spark.graft.skyline.externalDir")
  }

  test("pass schedule: pre-filter + window growth finish benign data in few passes") {
    val rnd = new scala.util.Random(21L)
    // 4000 uniform 3-d points with windowSize 64: a FIXED schedule would
    // need up to ~63 passes; the sampled pre-filter kills most of the
    // input before pass 1 and the window doubles after it, so the
    // cascade must finish in a handful (exactness separately asserted)
    val pts = Vector.fill(4000)(Array.fill(3)(rnd.nextDouble()))
    val dims: Seq[(String, Direction)] = Seq("c0" -> Min, "c1" -> Min, "c2" -> Min)
    val got = collectSet(toDf(pts, 3).skylineExternal(dims, windowSize = 64), 3)
    assert(got == brute(pts, Array(true, true, true)))
    assert(SkylineOps.lastExternalPassCount <= 6,
      s"expected few passes with pre-filter + growth, got ${SkylineOps.lastExternalPassCount}")
  }

  test("maxPasses trips loudly instead of looping") {
    val rnd = new scala.util.Random(3L)
    val pts = Vector.fill(50) {
      val raw = Array.fill(2)(rnd.nextDouble() + 0.01); val s = raw.sum
      raw.map(_ / s)
    }
    val dims: Seq[(String, Direction)] = Seq("c0" -> Min, "c1" -> Min)
    val ex = intercept[IllegalStateException] {
      toDf(pts, 2).skylineExternal(dims, windowSize = 1, maxPasses = 3)
    }
    assert(ex.getMessage.contains("maxPasses"))
  }
}
