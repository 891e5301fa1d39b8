package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Direction
import graft.core.Direction.Min
import graft.operators._
import graft.operators.SkylineOps._

/**
 * The scale-grid evidence as a checked-in JSON artifact (the prose
 * numbers from SURVEY §8, made machine-readable like BENCH_r{N}):
 * the BASELINE.md uniform grid head-to-head, the d=2 hint variants,
 * the d=10 n=10^7 correlated/anti-correlated rows, and the k-skyband
 * heavy grid. Every entry records its outcome explicitly — `ok` with
 * seconds+size, or `cap_trip` where the REQUIRED behavior on
 * frontier-heavy data is the loud buffer-cap failure (never an OOM).
 *
 * Runs at `local[$SPARK_GRAFT_CPUS]` (all cores when unset), and each
 * generated input has 32 range partitions whatever the core count.
 *
 * Usage: runMain graft.tools.SkyBenchJson [outPath] [rowRegex]
 *
 * With `rowRegex`, only rows whose label matches it somewhere run. A
 * label reads `kind/name/n<n>/d<d>` plus `/hint=<h>` or `/k=<k>`, e.g.
 * `skyline/anti/n100000/d10` or `skyline/uniform/n1000000/d7/hint=angle2`.
 */
object SkyBenchJson {
  def main(args: Array[String]): Unit = {
    val outPath = args.headOption.getOrElse("SKYBENCH_r8.json")
    val selected = args.lift(1).map(_.r)
    val master = s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "*")}]"
    // environment fingerprint bracketing the whole grid (round 15,
    // VERDICT r14 items 1+4): spin catches frequency throttling,
    // eff_cores catches the multi-core contention spin is blind to;
    // check_addendum.py's envgate rule enforces a floor on eff_cores
    // for any SKYBENCH artifact the addendum quotes.
    val envStart = graft.EnvProbe.snapshotJson("start")
    val spark = SparkSession.builder().master(master)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def uniform(n: Long, d: Int): DataFrame = {
      val cols = (1 to d).map(i =>
        floor(rand(seed = i) * 1e9).cast("long").as(s"x$i"))
      spark.range(0, n, 1, 32).select(cols: _*)
    }
    // positively correlated: one latent score per row, dims = score +
    // small noise — everything dominates/is dominated along the diagonal,
    // so the frontier is tiny (the benign high-d shape)
    def correlated(n: Long, d: Int): DataFrame = {
      val base = (rand(seed = 999) * 1e9).as("_b")
      val withBase = spark.range(0, n, 1, 32).select(base)
      withBase.select((1 to d).map(i =>
        floor(col("_b") * 0.9 + rand(seed = i) * 1e8).cast("long").as(s"x$i")): _*)
    }
    // anti-correlated: points near the plane sum(x_i) ~ const, where
    // almost nothing dominates anything — frontier ~ n, THE 100 TB risk
    def anti(n: Long, d: Int): DataFrame = {
      val raw = (1 to d).map(i => rand(seed = 100 + i).as(s"u$i"))
      val tot = (1 to d).map(i => col(s"u$i")).reduce(_ + _)
      spark.range(0, n, 1, 32).select(raw: _*)
        .select((1 to d).map(i => (col(s"u$i") / tot * 1e9).as(s"x$i")): _*)
    }
    def dims(d: Int): Seq[(String, Direction)] =
      (1 to d).map(i => s"x$i" -> (Min: Direction))

    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    // set by withPasses (external cascade runs) before record() emits
    var entriesPassNote = ""
    def record(name: String, n: Long, d: Int, kind: String, extra: String,
        cap: Option[Int])(run: => Long): Unit = {
      val label = s"$kind/$name/n$n/d$d" +
        extra.replaceAll("[\"{}]", "").replace(",", "/").replace(":", "=")
      if (selected.exists(_.findFirstIn(label).isEmpty)) return
      cap.foreach(c => spark.conf.set("spark.graft.skyline.maxBufferPoints", c.toString))
      val t0 = System.nanoTime()
      val res = try Right(run) catch {
        case e: Exception if Iterator.iterate(e: Throwable)(_.getCause)
            .takeWhile(_ != null).take(10)
            .exists(t => String.valueOf(t.getMessage).contains("maxBufferPoints")) =>
          Left("cap_trip")
      }
      val dt = math.rint((System.nanoTime() - t0) / 1e9 * 100) / 100
      cap.foreach(_ => spark.conf.unset("spark.graft.skyline.maxBufferPoints"))
      val capJson = cap.map(c => s""","cap":$c""").getOrElse("")
      val note = entriesPassNote; entriesPassNote = ""
      val e = res match {
        case Right(size) =>
          s"""{"name":"$name","n":$n,"d":$d,"kind":"$kind"$extra$capJson,"outcome":"ok","seconds":$dt,"result_rows":$size$note}"""
        case Left(tag) =>
          s"""{"name":"$name","n":$n,"d":$d,"kind":"$kind"$extra$capJson,"outcome":"$tag","seconds":$dt}"""
      }
      entries += e
      System.err.println(s"[skybench] $e")
    }

    // 1. BASELINE.md uniform grid (reference: 12-core YARN cluster +
    // Kafka relay; here: one local JVM on parquet-free generated data)
    for ((n, d) <- Seq((100000L, 2), (100000L, 5), (100000L, 7),
        (1000000L, 2), (1000000L, 5), (1000000L, 7),
        (10000000L, 2), (10000000L, 3))) {
      val df = uniform(n, d)
      record("uniform", n, d, "skyline", "", None)(df.skyline(dims(d)).count())
    }
    // d=7 n=1e6 under MR_ANGLE: the hinted path's cost next to the
    // NoHint row of the same data
    record("uniform", 1000000L, 7, "skyline", ""","hint":"angle2"""", None)(
      uniform(1000000L, 7).skyline(dims(7), hint = AngleHint(2)).count())
    // d=7 n=1e7: the reference's 47-minute MR_ANGLE point
    record("uniform", 10000000L, 7, "skyline", ""","hint":"angle2"""", None)(
      uniform(10000000L, 7).skyline(dims(7), hint = AngleHint(2)).count())

    // 2. hint variants at n=1e7 d=2 (reference Table 1 hyperparameters)
    val df2 = uniform(10000000L, 2)
    for ((h, label) <- Seq(DimHint(12) -> "dim12", GridHint(7) -> "grid7",
        AngleHint(12) -> "angle12")) {
      record("uniform", 10000000L, 2, "skyline", s""","hint":"$label"""", None)(
        df2.skyline(dims(2), hint = h, bounds = Some(Seq.fill(2)((0.0, 1e9)))).count())
    }

    // 3. d=10 at n=1e7: correlated completes (tiny frontier); the
    // anti-correlated frontier approaches n, so the REQUIRED outcome
    // under a consumer-sized cap is the loud trip — recorded as such
    record("correlated", 10000000L, 10, "skyline", "", None)(
      correlated(10000000L, 10).skyline(dims(10)).count())
    record("anti", 100000L, 10, "skyline", "", None)(
      anti(100000L, 10).skyline(dims(10)).count())
    record("anti", 10000000L, 10, "skyline", "", Some(100000))(
      anti(10000000L, 10).skyline(dims(10)).count())

    // 3b. external completion path (round 8, VERDICT item 5): the
    // frontier-heavy anti-correlated shape that trips the in-memory cap
    // COMPLETES under the same cap via the bounded-memory parquet-run
    // cascade (skylineExternal). Paired entries: the in-memory cap_trip
    // and the external completion on the SAME data/cap, plus a small-n
    // row whose result_rows must equal the in-memory "anti n=1e5" entry
    // above (cross-checkable in this artifact). Time on frontier≈n data
    // is inherently quadratic in the frontier (every exact BNL-family
    // skyline pays n·f dominance tests) — the external path bounds
    // MEMORY, which is what the cap_trip was about; n=1e7 at d=10 anti
    // (~10^14 pair tests) stays out of artifact-run reach on one box
    // and is recorded as the documented projection in SURVEY §r8.
    def withPasses(run: => Long): Long = {
      val rows = run
      entriesPassNote = s""","passes":${SkylineOps.lastExternalPassCount}"""
      rows
    }
    record("anti", 100000L, 10, "skyline_external", "", None)(
      withPasses(anti(100000L, 10).skylineExternal(dims(10)).count()))
    record("anti", 1000000L, 10, "skyline", "", Some(100000))(
      anti(1000000L, 10).skyline(dims(10)).count())
    record("anti", 1000000L, 10, "skyline_external", "", Some(100000))(
      withPasses(anti(1000000L, 10).skylineExternal(dims(10)).count()))

    // 4. k-skyband heavy grid (presort on — the auto heuristic at d >= 5)
    val d7u = uniform(200000L, 7)
    val d10a = anti(100000L, 10).limit(20000)
    for (k <- Seq(2, 8)) {
      record("uniform", 200000L, 7, "kskyband", s""","k":$k""", None)(
        d7u.kSkyband(dims(7), k = k).count())
      record("anti", 20000L, 10, "kskyband", s""","k":$k""", None)(
        d10a.kSkyband(dims(10), k = k).count())
    }
    // the verdict-shape worst case under a consumer-sized cap
    record("anti", 100000L, 10, "kskyband", ""","k":8""", Some(20000))(
      anti(100000L, 10).kSkyband(dims(10), k = 8).count())
    // round 10: the SAME shape under the SAME cap completes via
    // kSkybandAuto — aggregate-first, loud cap trip auto-dispatches to
    // the join path (time includes the failed aggregate attempt)
    record("anti", 100000L, 10, "kskyband_auto", ""","k":8""", Some(20000)) {
      val out = anti(100000L, 10).kSkybandAuto(dims(10), k = 8)
      try out.count() finally out.unpersist(blocking = false)
    }

    // 4b. join-based k-skyband (round 9): the PARALLEL completion path —
    // same exact semantics (spec-gated ≡ aggregate ≡ brute), but the
    // per-candidate dominator counts come from codegen'd kernels + one
    // (index, count) aggregation instead of the aggregate's
    // single-threaded final merge. Paired with the aggregate rows above,
    // including the n=1e5 k=8 shape that can only cap_trip there.
    def ksj(src: DataFrame, k: Int, maxCand: Int): Long = {
      val out = src.kSkybandJoin(dims(10), k = k, maxCandidates = maxCand)
      try out.count() finally out.unpersist(blocking = false)
    }
    def ksj7(src: DataFrame, k: Int): Long = {
      val out = src.kSkybandJoin(dims(7), k = k)
      try out.count() finally out.unpersist(blocking = false)
    }
    for (k <- Seq(2, 8)) {
      record("uniform", 200000L, 7, "kskyband_join", s""","k":$k""", None)(
        ksj7(d7u, k))
      record("anti", 20000L, 10, "kskyband_join", s""","k":$k""", None)(
        ksj(d10a, k, 1 << 20))
    }
    record("anti", 100000L, 10, "kskyband_join", ""","k":8""", None)(
      ksj(anti(100000L, 10), 8, 1 << 20))

    // 4c. top-k dominating (round 9): the ranking companion operator —
    // the kskyband_join candidate machinery plus one negated-kernel
    // scoring pass over the whole input; paired with the same shapes.
    def tkd(src: DataFrame, dd: Int, k: Int): Long = {
      val out = src.topKDominating(dims(dd), k = k)
      try out.count() finally out.unpersist(blocking = false)
    }
    record("uniform", 200000L, 7, "topkdom", ""","k":10""", None)(tkd(d7u, 7, 10))
    record("anti", 100000L, 10, "topkdom", ""","k":10""", None)(
      tkd(anti(100000L, 10), 10, 10))

    val envEnd = graft.EnvProbe.snapshotJson("end")
    val json =
      s"""{"artifact":"skybench","master":"$master","baseline":"BASELINE.md (12-core YARN cluster, Spark 3.3 + Kafka relay)",
         |"env":{$envStart,$envEnd,${graft.EnvProbe.staticJson()}},
         |"entries":[
         |${entries.mkString(",\n")}
         |]}""".stripMargin
    Files.writeString(Paths.get(outPath), json)
    println(json)
    spark.stop()
  }
}
