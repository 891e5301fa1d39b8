package graft
import org.apache.spark.sql.SparkSession

object Bench {
  // Environment fingerprint (VERDICT r13 item 2 + r14 item 1): timing
  // artifacts carry their own yardstick — see [[EnvProbe]]. The r13
  // single-thread spin catches frequency throttling; the r14 driver run
  // proved it blind to multi-core contention (suite 45% slow, spin
  // quiet), so the block now also carries a parallel-spin
  // effective-cores figure, gated by tools/check_addendum.py.
  def main(args: Array[String]): Unit = {
    val envStart = EnvProbe.snapshotJson("start")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/scan paths once so the first timed query does
    // not absorb session startup costs.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(10).collect()
    } catch { case _: Throwable => }
    // SCALING CANARY (round 17, VERDICT r16 item 2): one fixed
    // compute-bound Spark job — 64 tasks of a fixed integer spin —
    // timed through THIS session's scheduler, so its wall time scales
    // ~inversely with the cores `local[$cpus]` actually delivers
    // (~12 s of core-work: ~0.5 s wall at 32 cores, ~1.7 s at 8).
    // The suite itself is fixed-orchestration-bound at bench SFs
    // (sf0.001 total ~= sf0.1 total), so per-query times CANNOT show
    // the core count; this canary, emitted in the artifact's env
    // block, is the in-artifact proof that the harness honors
    // SPARK_GRAFT_CPUS. Runs once per invocation (~0.5-2 s), never
    // enters any query's figure.
    val canarySec = try {
      val parts = 64
      val t0 = System.nanoTime()
      spark.sparkContext.parallelize(1 to parts, parts).map { p =>
        var x = p.toLong; var i = 0L
        while (i < 200000000L) { x += i * 31 + (x >> 3); i += 1 }
        x
      }.reduce(_ ^ _)
      math.rint((System.nanoTime() - t0) / 1e9 * 1000) / 1000
    } catch { case _: Throwable => -1.0 }
    // Per-query warmup: run the same query once immediately before timing
    // it, so the reported number is steady-state THROUGHPUT, not one-time
    // whole-stage-codegen compilation + JIT (measured 5-10x on the
    // sketch-heavy queries: dedup_minhash 5.9 s cold vs 0.7 s warm at
    // sf0.1; a smaller-SF warmup is NOT enough — AQE picks different join
    // strategies at different scales, generating different code).
    // Long-running cluster executors are warm; a per-round fresh JVM is
    // not. Disable with SPARK_GRAFT_WARM_DIR="" to measure cold, or point
    // it at another SF dir.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", sfDir)
    // Median-of-N timed runs per query (after warmup): a single timed run
    // is at the mercy of transient machine load — two rounds of phantom
    // 2-5x "regressions" on untouched code cleared on re-run. The median
    // of 3 defends the number. SPARK_GRAFT_RUNS=1 restores the old
    // single-shot behavior for quick local iteration.
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt.max(1)
    // Sub-second queries re-run to `extraRuns` total samples: a short run
    // is hostage to a single load burst, and median-of-3 still loses when
    // 2 of 3 runs land in the burst. Bounded cost: sub-second queries only.
    val subSecondThreshold =
      sys.env.getOrElse("SPARK_GRAFT_SUBSEC_THRESHOLD", "1.0").toDouble
    val extraRuns = sys.env.getOrElse("SPARK_GRAFT_SUBSEC_RUNS", "7").toInt.max(runs)
    // MULTI-second outlier re-sampling (round 8): the r6/r7 phantom
    // regressions (dedup_cluster 1.6->17.1 s, q_antijoin 0.26->8.2 s on
    // UNTOUCHED code) were multi-second, where the sub-second rule is
    // blind and median-of-3 loses whenever a driver-machine load window
    // outlives three consecutive runs. Defense: compare each query's
    // median against the PRIOR artifact (the checked-in per-query JSON
    // this run also rewrites); any query whose median exceeds
    // `outlierFactor` x its prior figure re-runs — interleaved across
    // outliers at the END of the suite, so a load window that poisoned
    // the original consecutive samples has to persist through the whole
    // tail sweep to also poison the re-samples. The reported number is
    // the median of ALL samples; min/median/max land in the artifact.
    val outlierFactor =
      sys.env.getOrElse("SPARK_GRAFT_OUTLIER_FACTOR", "2.5").toDouble
    // SPREAD trigger (round 9): the prior-ratio rule above missed
    // dedup_minhash in r8 — median 4.71 s vs prior 2.75 s (ratio 1.71 <
    // 2.5) with min 2.78 s, i.e. 2 of 3 runs in a load window. A 3-run
    // max/min spread beyond `spreadFactor` is itself evidence of a load
    // burst regardless of the prior ratio, so such queries re-sample too.
    val spreadFactor =
      sys.env.getOrElse("SPARK_GRAFT_SPREAD_FACTOR", "2.0").toDouble
    // MIN-VS-PRIOR trigger (round 10, VERDICT r9): a CONSISTENT 1.5-2.5x
    // slowdown evades both rules above — stream_heavy_hitters went
    // 1.01->2.24 s in r9 with ratio 2.21 (< 2.5 prior trigger) and
    // max/min 1.19 (< 2.0 spread trigger), all three runs slow. When
    // even the FASTEST of the initial samples exceeds `minFactor` x the
    // prior median, either the regression is real (re-samples confirm
    // it, adjudicate the code) or a load window outlived all three runs
    // (re-samples at the suite tail clear it) — both outcomes want the
    // re-sample.
    val minFactor =
      sys.env.getOrElse("SPARK_GRAFT_MIN_FACTOR", "1.8").toDouble
    // SYMMETRIC trigger (round 9, ADVICE): re-sampling only slow
    // outliers ratchets the suite total downward by construction of the
    // measurement — a prior figure poisoned HIGH, or a lucky fast run,
    // was never revalidated. Queries whose median lands below
    // prior / outlierFactor (on a multi-second prior) re-sample the same
    // way, so phantom improvements get the same defense as phantom
    // regressions.
    val sfName = new java.io.File(sfDir).getName
    val benchOut = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"/root/repo/bench_$sfName.json")
    val priorPath = sys.env.getOrElse("SPARK_GRAFT_PRIOR", benchOut)
    // prior medians parsed from the previous artifact (self-describing
    // flat JSON written below; regex keeps this dependency-free)
    val prior: Map[String, Double] = {
      val f = new java.io.File(priorPath)
      if (!f.isFile) Map.empty
      else {
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        val re = """"([A-Za-z0-9_]+)":\{"min":[0-9.eE+-]+,"median":([0-9.eE+-]+)""".r
        re.findAllMatchIn(txt).map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
    // SPARK_GRAFT_ONLY="a,b,c" restricts the suite — local iteration only
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val elapsed = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache() // timed pair finders pin caches
      elapsed
    }
    def median(ts: Vector[Double]): Double = ts.sorted.apply(ts.size / 2)
    // A failing query must NEVER bench as a (fast) number: round 5's
    // testdata regeneration made 8 queries fail analysis in ~0.05-0.3 s
    // and the old `catch -> -1L` recorded those as the round's "biggest
    // improvements". A query that throws on ANY timed run reports "err".
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // INTERLEAVED sampling (round 17, VERDICT r16 item 9 — additions
    // only, default OFF so driver runs stay methodology-identical):
    // instead of a query's N samples running back-to-back (all hostage
    // to one load window), the suite runs as N full passes, each
    // timing every query once — a load burst then lands on DIFFERENT
    // queries in different passes, and two artifacts produced this way
    // (e.g. a before/after pair on this ±30-40%-variance host) compare
    // per query without a worktree control run. Same timeOnce, same
    // warmup, same median-of-N and failure semantics.
    val interleave = sys.env.get("SPARK_GRAFT_INTERLEAVE").contains("1")
    def fail(name: String, e: Throwable): Unit = {
      System.err.println(s"[bench] $name FAILED: ${e.toString.take(300)}")
      failed(name) = "err"
      samples.remove(name)
    }
    if (!interleave) {
      selected.foreach { case (name, fn) =>
        if (warmDir.nonEmpty) {
          try { fn(spark, warmDir).count() } catch { case _: Throwable => }
          spark.catalog.clearCache()
        }
        try {
          var ts = (1 to runs).map(_ => timeOnce(fn)).toVector
          if (median(ts) < subSecondThreshold && extraRuns > runs)
            ts = ts ++ (1 to (extraRuns - runs)).map(_ => timeOnce(fn))
          samples(name) = ts
        } catch { case e: Throwable => fail(name, e) }
      }
    } else {
      // pass 1 carries the per-query warmup; passes 2..runs re-time
      // every surviving query once each, in suite order
      selected.foreach { case (name, fn) =>
        if (warmDir.nonEmpty) {
          try { fn(spark, warmDir).count() } catch { case _: Throwable => }
          spark.catalog.clearCache()
        }
        try samples(name) = Vector(timeOnce(fn))
        catch { case e: Throwable => fail(name, e) }
      }
      (2 to runs).foreach { _ =>
        selected.foreach { case (name, fn) =>
          if (samples.contains(name))
            try samples(name) = samples(name) :+ timeOnce(fn)
            catch { case e: Throwable => fail(name, e) }
        }
      }
      // sub-second extra samples, interleaved the same way. The set is
      // fixed after the first `runs` passes, exactly as the sequential
      // path decides it: re-testing the growing median each pass would
      // let a query drift in or out and take a different sample count.
      val subSecond = selected.keys.filter(name =>
        samples.get(name).exists(median(_) < subSecondThreshold)).toVector
      (1 to (extraRuns - runs).max(0)).foreach { _ =>
        subSecond.foreach { name =>
          if (samples.contains(name))
            try samples(name) = samples(name) :+ timeOnce(selected(name))
            catch { case e: Throwable => fail(name, e) }
        }
      }
    }
    // end-of-suite interleaved re-sampling of suspect queries; each
    // name maps to the trigger(s) that fired, recorded in the artifact
    val outlierReasons: Map[String, Seq[String]] = samples.flatMap {
      case (name, ts) =>
        val m = median(ts)
        val reasons = Seq(
          prior.get(name).collect {
            case p if m > outlierFactor * p && m >= subSecondThreshold =>
              "prior_ratio" },
          Option.when(ts.max / ts.min.max(1e-9) > spreadFactor &&
            m >= subSecondThreshold)("spread"),
          prior.get(name).collect {
            case p if ts.min > minFactor * p && m >= subSecondThreshold =>
              "min_ratio" },
          prior.get(name).collect {
            case p if m < p / outlierFactor && p >= subSecondThreshold =>
              "improvement" }
        ).flatten
        if (reasons.nonEmpty) Some(name -> reasons) else None
    }.toMap
    val outliers = samples.keys.filter(outlierReasons.contains).toVector
    if (outliers.nonEmpty) {
      System.err.println(s"[bench] re-sampling ${outliers.size} outliers vs " +
        s"prior artifact $priorPath: " +
        outliers.map(n => s"$n(${outlierReasons(n).mkString("+")})").mkString(", "))
      (1 to (extraRuns - runs).max(2)).foreach { _ =>
        outliers.foreach { name =>
          try samples(name) = samples(name) :+ timeOnce(selected(name))
          catch { case e: Throwable => failed(name) = "err"; samples.remove(name) }
        }
      }
    }
    // Operator-only timing for the gate-dominated queries: the full
    // query's figure is dominated by its correctness-gate harness (exact
    // counterpart recompute / brute-force verify side), which masks
    // operator regressions. SparkEntry.opOnly supplies (setup, thunk)
    // pairs; setup (e.g. the amortized ingestion index) runs UNTIMED
    // before each sample, the thunk is the timed region. The artifact
    // carries op_sec (median) and gate_sec = full_median - op_median.
    val opSamples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    SparkEntry.opOnly.foreach { case (name, mk) =>
      if (samples.contains(name)) {
        try {
          if (warmDir.nonEmpty) {
            val w = mk(spark, warmDir)
            try { w().count() } catch { case _: Throwable => }
            spark.catalog.clearCache()
          }
          opSamples(name) = (1 to runs).map { _ =>
            val thunk = mk(spark, sfDir) // amortized setup, untimed
            val t0 = System.nanoTime()
            thunk().count()
            val elapsed = (System.nanoTime() - t0) / 1e9
            spark.catalog.clearCache()
            elapsed
          }.toVector
        } catch { case e: Throwable =>
          System.err.println(s"[bench] op-only $name FAILED: ${e.toString.take(300)}")
        }
      }
    }
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val results: Map[String, Either[String, Double]] =
      samples.map { case (n, ts) => n -> Right(median(ts)) }.toMap ++
        failed.map { case (n, tag) => n -> Left(tag) }.toMap
    val qs = results.toSeq.sortBy(_._1).map {
      case (k, Right(v)) => s"\"" + k + "\":" + r3(v)
      case (k, Left(tag)) => s"\"" + k + "\":\"" + tag + "\""
    }.mkString("{", ",", "}")
    val ok = results.values.collect { case Right(v) => v }
    val total = r3(if (ok.nonEmpty) ok.sum else 0.0)
    val nFailed = results.values.count(_.isLeft)
    // Full per-query artifact (min/median/max/n_samples + config) written
    // to disk and committed per round: the driver's BENCH_r*.json log
    // tail truncates (19 of 101 per-query numbers vanished in r7), so
    // the durable record — and the prior for the outlier rule above —
    // is this file, diffable across rounds in git history.
    val envEnd = EnvProbe.snapshotJson("end")
    val envJson = s"""{$envStart,$envEnd,${EnvProbe.staticJson()},""" +
      s""""canary_spark_sec":$canarySec,"canary_tasks":64,""" +
      s""""canary_iters_per_task":200000000}"""
    val artifact = {
      val per = samples.toSeq.sortBy(_._1).map { case (k, ts) =>
        val flag = outlierReasons.get(k).map(rs =>
          s""","resampled":"${rs.mkString("+")}"""").getOrElse("")
        val p = prior.get(k).map(v => s""","prior":${r3(v)}""").getOrElse("")
        val derived =
          if (SparkEntry.compositeDerived(k)) ",\"derived\":true" else ""
        val op = opSamples.get(k).map { os =>
          val gate = math.max(0.0, median(ts) - median(os))
          s""","op_sec":${r3(median(os))},"op_min":${r3(os.min)},"op_max":${r3(os.max)},"gate_sec":${r3(gate)}"""
        }.getOrElse("")
        s""""$k":{"min":${r3(ts.min)},"median":${r3(median(ts))},"max":${r3(ts.max)},"n":${ts.size}$flag$p$derived$op}"""
      } ++ failed.toSeq.map { case (k, tag) => s""""$k":"$tag"""" }
      s"""{"sf":"$sfDir","cpus":"$cpus","runs":$runs,"interleaved":$interleave,"total_median_sec":$total,
         |"n_queries":${results.size},"n_failed":$nFailed,
         |"env":$envJson,
         |"queries":{${per.mkString(",\n")}}}""".stripMargin
    }
    try java.nio.file.Files.write(java.nio.file.Paths.get(benchOut),
      artifact.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: $e") }
    // per-query map first, then the total as its own COMPACT FINAL line:
    // a log-tail truncation can eat the front of the long line, never the
    // short last one, so the headline number always parses.
    println(s"""{"metric":"per_query","unit":"sec","queries":$qs,"sf":"$sfDir","runs_per_query":$runs}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","runs_per_query":$runs,"n_queries":${results.size},"n_failed":$nFailed,"env":$envJson,"artifact":"$benchOut"}""")
    spark.stop()
  }
}
