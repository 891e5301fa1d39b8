package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Direction.{Max, Min}
import graft.core.SkylineCore
import graft.operators._
import graft.operators.SkylineOps._

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // the cluster-install path under test in GraftExtensionsSpec: a static
    // conf, so it must be on the context-creating builder (a later
    // builder's config() can't reach an existing context's conf)
    .config("spark.sql.extensions", "graft.GraftExtensions")
    // bucketed-table specs saveAsTable; keep the warehouse out of the repo
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .getOrCreate()
}

/** Integration tests for the df.skyline API against the pure-Scala core,
  * plus hint-equivalence and type round-trip checks. */
class SkylineSparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def randomDf(n: Int, d: Int, seed: Long) = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = Seq.fill(n)(Seq.fill(d)(rnd.nextInt(1000).toDouble))
    rows.map { case Seq(a, b) => (a, b); case _ => sys.error("d=2 only") }
      .toDF("x1", "x2")
  }

  test("skyline matches pure-Scala core on random data") {
    val df = randomDf(2000, 2, seed = 1)
    val got = df.skyline(Seq("x1" -> Min, "x2" -> Min))
      .collect().map(r => Seq(r.getDouble(0), r.getDouble(1))).toSet
    val pts = df.collect().map(r => Array(r.getDouble(0), r.getDouble(1)))
    val want = SkylineCore.skylineOf(pts, Array(true, true)).map(_.toSeq).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("all partition hints produce the identical skyline (multiple seeds)") {
    for (seed <- Seq(2L, 17L, 41L)) {
      val df = randomDf(3000, 2, seed).cache()
      val dims = Seq("x1" -> Min, "x2" -> Min)
      def result(h: PartitionHint) =
        df.skyline(dims, hint = h).collect().map(_.toSeq).toSet
      val base = result(NoHint)
      assert(result(DimHint(8)) == base, s"DimHint seed=$seed")
      assert(result(GridHint(3)) == base, s"GridHint seed=$seed")
      assert(result(AngleHint(5)) == base, s"AngleHint seed=$seed")
      df.unpersist()
    }
  }

  test("GridHint(1000) over 1e5 points returns exactly the NoHint skyline") {
    import org.apache.spark.sql.functions.{floor, rand}
    val dims = Seq("x1" -> Min, "x2" -> Min)
    // GridHint(1000) over 1e5 uniform-integer 2-D points in [0, 1000):
    // nearly every distinct point is its own cell (~95k cells), so the
    // verify stage's union U holds nearly every distinct point
    val fine = spark.range(100000).select(
      floor(rand(5) * 1000).cast("double").as("x1"),
      floor(rand(6) * 1000).cast("double").as("x2")).cache()
    try {
      assert(fine.skyline(dims, hint = GridHint(1000)).collect().map(_.toSeq).toSet ==
        fine.skyline(dims).collect().map(_.toSeq).toSet)
    } finally fine.unpersist()
    // and a default-sized grid is green and correct
    val df = randomDf(2000, 2, seed = 7)
    assert(df.skyline(dims, hint = GridHint(9)).collect().map(_.toSeq).toSet ==
      df.skyline(dims).collect().map(_.toSeq).toSet)
  }

  test("buffer cap trips loudly when the frontier exceeds it, never silently") {
    import spark.implicits._
    // a perfect 2-D anti-chain: every point is on the frontier
    val df = (0 until 500).map(i => (i.toDouble, (500 - i).toDouble)).toDF("x1", "x2")
    val dims = Seq("x1" -> Min, "x2" -> Min)
    spark.conf.set("spark.graft.skyline.maxBufferPoints", "50")
    try {
      val e = intercept[Exception] { df.skyline(dims).collect() }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(10)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msgs.contains("maxBufferPoints"), msgs)
    } finally spark.conf.unset("spark.graft.skyline.maxBufferPoints")
    // default cap: same query sails through (it never fires on real frontiers)
    assert(df.skyline(dims).count() == 500)
  }

  test("the verify stage trips the buffer cap when the union of local frontiers exceeds it") {
    // 2-D anti-chains of `per` points in each of `parts` partitions: each
    // local frontier is its partition's points, under the cap of 100,
    // but their union U holds 3.2 times the cap, then about 32 times it
    for ((parts, per) <- Seq((8, 40), (32, 99))) {
      val n = parts * per
      val rows = (0 until n).map(i => Row(i.toDouble, (n - i).toDouble))
      val schema = StructType(Seq(StructField("x1", DoubleType, false), StructField("x2", DoubleType, false)))
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      val dims = Seq("x1" -> Min, "x2" -> Min)
      spark.conf.set("spark.graft.skyline.maxBufferPoints", "100")
      try {
        val e = intercept[Exception] { df.skyline(dims).collect() }
        val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(10)
          .map(t => String.valueOf(t.getMessage)).mkString(" | ")
        assert(msgs.contains("skyline buffer exceeded 100 points (spark.graft.skyline.maxBufferPoints)"), msgs)
        // the trip is the verify stage's, not a local frontier's
        assert(df.rdd.glom().map(_.length).collect().forall(_ == per))
      } finally spark.conf.unset("spark.graft.skyline.maxBufferPoints")
      assert(df.skyline(dims).count() == n)
    }
  }

  test("under-covering explicit bounds stay correct and don't overflow the key cast") {
    import spark.implicits._
    // data far outside the declared [0, 1] bounds on both sides; the raw
    // floor((x-lo)/range) lands way past Int range and must be clamped in
    // double BEFORE the Int cast (ANSI mode would otherwise throw)
    val df = Seq((-1.0e12, 5.0), (0.5, 0.5), (2.0e12, -3.0e11), (0.2, 0.9))
      .toDF("x1", "x2")
    val dims = Seq("x1" -> Min, "x2" -> Min)
    val base = df.skyline(dims).collect().map(_.toSeq).toSet
    val tight = Some(Seq((0.0, 1.0), (0.0, 1.0)))
    assert(df.skyline(dims, hint = DimHint(4), bounds = tight)
      .collect().map(_.toSeq).toSet == base)
    assert(df.skyline(dims, hint = GridHint(3), bounds = tight)
      .collect().map(_.toSeq).toSet == base)
  }

  test("skyline_agg composes with SQL GROUP BY (per-group frontiers in pure SQL)") {
    import spark.implicits._
    graft.operators.GraftFunctions.register(spark)
    val df = Seq(("g1", 1.0, 5.0), ("g1", 2.0, 2.0), ("g1", 3.0, 3.0), ("g2", 9.0, 9.0))
      .toDF("g", "x1", "x2")
    df.createOrReplaceTempView("sql_group_sky")
    val viaSql = spark.sql(
      """SELECT g, p[0] AS x1, p[1] AS x2 FROM (
        |  SELECT g, explode(skyline_agg('min,min', x1, x2)) AS p
        |  FROM sql_group_sky GROUP BY g)""".stripMargin)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val viaDsl = df.skylineBy(Seq("g"), Seq("x1" -> Min, "x2" -> Min))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(viaSql == viaDsl)
  }

  test("MAX directions and mixed directions") {
    import spark.implicits._
    val df = Seq((1.0, 1.0), (2.0, 3.0), (3.0, 2.0), (3.0, 3.0), (0.5, 3.5))
      .toDF("x1", "x2")
    val got = df.skyline(Seq("x1" -> Max, "x2" -> Max))
      .collect().map(_.toSeq).toSet
    assert(got == Set(Seq(3.0, 3.0), Seq(0.5, 3.5)))
    val mixed = df.skyline(Seq("x1" -> Min, "x2" -> Max))
      .collect().map(_.toSeq).toSet
    assert(mixed == Set(Seq(0.5, 3.5)))
  }

  test("exact duplicate points collapse (reference set semantics)") {
    import spark.implicits._
    val df = Seq((1.0, 2.0), (1.0, 2.0), (2.0, 1.0)).toDF("x1", "x2")
    val got = df.skyline(Seq("x1" -> Min, "x2" -> Min)).collect()
    assert(got.length == 2)
  }

  test("timestamp dimension round-trips exactly") {
    val dir = "/root/testdata/sf0.001"
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    val sky = orders.skyline(Seq("o_totalprice" -> Max, "o_orderdate" -> Min))
    val outSchema = sky.schema
    assert(outSchema("o_orderdate").dataType == orders.schema("o_orderdate").dataType)
    // every output (price, date) pair must exist verbatim in the input
    val inPairs = orders.select("o_totalprice", "o_orderdate")
      .collect().map(_.toSeq).toSet
    val outPairs = sky.collect().map(_.toSeq).toSet
    assert(outPairs.nonEmpty && outPairs.subsetOf(inPairs))
  }

  test("skylineBy computes an independent frontier per group") {
    import spark.implicits._
    val df = Seq(
      ("g1", 1.0, 5.0), ("g1", 2.0, 2.0), ("g1", 3.0, 3.0), // (3,3) dominated
      ("g2", 9.0, 9.0) // dominated globally but alone in its group
    ).toDF("g", "x1", "x2")
    val got = df.skylineBy(Seq("g"), Seq("x1" -> Min, "x2" -> Min))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(got == Set(("g1", 1.0, 5.0), ("g1", 2.0, 2.0), ("g2", 9.0, 9.0)))
  }

  test("empty input with a hint yields an empty skyline (no bounds crash)") {
    import org.apache.spark.sql.functions.col
    val df = randomDf(100, 2, seed = 22).filter(col("x1") < -1)
    assert(df.skyline(Seq("x1" -> Min, "x2" -> Min), hint = GridHint(3)).count() == 0)
    assert(df.skyline(Seq("x1" -> Min, "x2" -> Min), hint = DimHint(4)).count() == 0)
  }

  test("5-dimensional skyline matches brute force (mixed directions)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(5000)((rnd.nextInt(50).toDouble, rnd.nextInt(50).toDouble,
      rnd.nextInt(50).toDouble, rnd.nextInt(50).toDouble, rnd.nextInt(50).toDouble))
    val df = rows.toDF("a", "b", "c", "d", "e")
    import graft.core.Direction
    val dims: Seq[(String, Direction)] =
      Seq("a" -> Min, "b" -> Max, "c" -> Min, "d" -> Max, "e" -> Min)
    val got = df.skyline(dims).collect()
      .map(r => (0 until 5).map(r.getDouble)).toSet
    val minDir = dims.map(_._2.isMin).toArray
    val pts = rows.map(t => Array(t._1, t._2, t._3, t._4, t._5))
    val want = SkylineCore.skylineOf(pts, minDir).map(_.toSeq).toSet
    assert(got == want && got.nonEmpty)
  }

  test("AngleHint rejects MAX dimensions (reference restriction)") {
    val df = randomDf(10, 2, seed = 3)
    intercept[IllegalArgumentException] {
      df.skyline(Seq("x1" -> Max, "x2" -> Min), hint = AngleHint(4))
    }
  }

  test("SQL surface: skyline_agg via spark.sql matches the DSL") {
    graft.operators.GraftFunctions.register(spark)
    val df = randomDf(1000, 2, seed = 31)
    df.createOrReplaceTempView("sql_sky_points")
    val viaSql = spark.sql(
      """SELECT p[0] AS x1, p[1] AS x2
        |FROM (SELECT explode(skyline_agg('min,max', x1, x2)) AS p
        |      FROM sql_sky_points)""".stripMargin)
      .collect().map(r => Seq(r.getDouble(0), r.getDouble(1))).toSet
    val viaDsl = df.skyline(Seq("x1" -> Min, "x2" -> Max))
      .collect().map(_.toSeq).toSet
    assert(viaSql == viaDsl && viaSql.nonEmpty)
    // rejection rules carry over to SQL, each naming the function
    for ((dirs, why) <- Seq(
        "min,avg" -> "skyline_agg direction must be min or max, got 'avg'",
        "min" -> "skyline_agg: 1 directions for 2 dimension columns")) {
      val e = intercept[Exception] {
        spark.sql(s"SELECT skyline_agg('$dirs', x1, x2) FROM sql_sky_points").collect()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null).take(10)
        .map(t => String.valueOf(t.getMessage)).mkString(" | ")
      assert(msgs.contains(why), msgs)
    }
    // scalar custom expressions are SQL-callable too
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)), " +
        "graft_sorted_intersect_count(array(1L, 2L, 5L), array(2L, 5L, 9L))").head()
    assert(dot.getDouble(0) == 11.0 && dot.getLong(1) == 2L)
    // wrong arity fails loudly, not silently
    intercept[Exception] {
      spark.sql("SELECT graft_dot(array(1.0d), array(1.0d), array(1.0d))").collect()
    }
    // integer dimension columns work through the SQL path (cast to double)
    val ints = spark.sql(
      """SELECT explode(skyline_agg('min,min', CAST(x1 AS BIGINT), CAST(x2 AS BIGINT)))
        |FROM sql_sky_points""".stripMargin).collect()
    assert(ints.nonEmpty)
  }

  test("skyline query-string API end-to-end") {
    val df = randomDf(500, 2, seed = 4)
    val a = df.skyline("SKYLINE OF x1 MIN, x2 MAX").collect().map(_.toSeq).toSet
    val b = df.skyline(Seq("x1" -> Min, "x2" -> Max)).collect().map(_.toSeq).toSet
    assert(a == b)
  }
}
