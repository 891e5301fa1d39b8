package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/**
 * ANN measurements at scale, on the synthetic [[AnnData]] corpora
 * (d=64, recall@10 of a 50-query batch).
 *
 * With no sub-command (`AnnBench [N ...]`) it runs the scale GRID:
 * every similarity path — exact brute force, IVF, PQ, BQ, IVF+PQ — per
 * distribution and tier, measuring build time, probe time, and
 * recall@10 against the exact ranking. Distributions:
 *
 *  - `uniform`: i.i.d. coordinates — hostile to POSITIONAL structure
 *    (no clusters), but in d=64 the norms concentrate, so a
 *    directionally-trained coarse quantizer partitions it well:
 *    full-quality centroids + calibrated nprobe reach recall 1.0 at a
 *    ~1-cell scan.
 *  - `clustered`: 64 sign-pattern centers + 0.15 noise — the shape
 *    real embedding corpora actually have, and the WIDE-CLUSTER stress
 *    for the refine depth (a query's ~156k-row cluster at n=10M).
 *  - `aniso` (n=1M only): clustered latents with per-dim decaying
 *    scales, Hadamard-mixed — ANISOTROPIC residuals, the regime OPQ's
 *    learned rotation exists for (Ge et al. CVPR'13); the paired
 *    opq0/opq8 rows put the rotation's win IN the grid instead of only
 *    in a unit spec.
 *
 * Coarse training uses the AUTO budget everywhere
 * (trainPointsPerCentroid = 0 -> full training at or under ~1.25M
 * rows, the MINI-BATCH trainer above it, early-stopping on centroid
 * shift). Each 10M tier also carries a CALIBRATED-nprobe row
 * ([[graft.operators.Similarity.IvfIndex.calibrateNprobe]] at target
 * 0.95) next to the fixed-fraction row, an `nlist=auto` row on uniform,
 * and an `ivfpq[conf-auto,...]` row — the fully self-tuning conf surface
 * driven through the same annBuildIvfPq path annTopK runs, with build_s
 * the one-shot cost including calibration. The grid writes one JSON
 * artifact (SPARK_GRAFT_ANNBENCH_OUT, default ANNBENCH_r13.json). Build
 * = index construction (amortized per corpus snapshot in production);
 * probe = one 50-query batch end to end (collect).
 *
 * Sub-commands measure one step of the build-once/probe-many lifecycle
 * on the clustered corpus of size N, each in its own JVM so the long
 * steps at n=1e8 can run detached and restart cheaply:
 *
 *  - `oracle N`      the exact top-K pairs of the 50-query batch,
 *                    PERSISTED (`<tmpdir>/annbench/oracle_clustered_<N>_k10.parquet`)
 *                    so every recall row reuses one oracle scan.
 *  - `auto N`        the FULL zero-knowledge conf path (every knob auto,
 *                    including the m/ksub code-size rule): build, park
 *                    the snapshot at `<tmpdir>/annbench/park_clustered_<N>_auto`,
 *                    probe the park; recall vs the persisted oracle.
 *  - `probe N PARK [np] [sl] [reps]`
 *                    probe a parked snapshot; sl <= 0 = auto depth.
 *  - `delete N PARK frac [np]`
 *                    tombstone `frac` of the ids (at 1e8 and frac=0.1
 *                    that is the bloom anti-join regime), probe with the
 *                    tombstones live (asserting no deleted id surfaces),
 *                    compact, probe again (asserting equal results).
 *                    Deletion mutates the snapshot — run it on a COPY.
 *
 * `np` defaults to 27, the calibrated width at n=1e8. Sub-command rows
 * APPEND to the JSONL log diagnostics/annbench.jsonl with an explicit
 * `kind` (build / probe /
 * oracle) and both environment yardsticks (`spin_s`, `eff_cores`);
 * tools/assemble_annbench.py folds a log into an ANNBENCH artifact.
 *
 * Corpora are materialized to parquet (the synthesis expression would
 * otherwise ride into every downstream plan) and reused ONLY when the
 * generator fingerprint stamp matches — a changed synthesis
 * regenerates instead of silently measuring stale data.
 */
object AnnBench {
  private val D = 64
  private val K = 10
  private val Usage = "usage: AnnBench [N ...] | oracle N | auto N | " +
    "probe N PARK [np] [sl] [reps] | delete N PARK frac [np]"

  private case class Entry(dist: String, n: Long, algo: String,
      buildS: Double, probeS: Double, recall: Double)

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recOf(exact: Set[(Long, Long)], s: Set[(Long, Long)]): Double =
    if (exact.isEmpty) 1.0 else (s & exact).size.toDouble / exact.size

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val AnnKeys =
    Seq("algo", "nlist", "nprobe", "tppc", "shortlist", "m", "ksub", "opqIters")

  /** Run `f` with the given `spark.graft.ann.*` keys set; every ANN key
    * is unset afterwards, so one measurement's conf never leaks into
    * the next. */
  private def withConf[T](spark: SparkSession, kv: (String, String)*)(f: => T): T =
    try {
      kv.foreach { case (k, v) => spark.conf.set(s"spark.graft.ann.$k", v) }
      f
    } finally AnnKeys.foreach(k => spark.conf.unset(s"spark.graft.ann.$k"))

  private def oraclePath(n: Long) =
    s"${AnnData.Root}/oracle_clustered_${n}_k$K.parquet"

  private def parquetFiles(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) 1L else 0L
    walk(new java.io.File(dir))
  }

  private def fmt(p: String, v: Double): String =
    String.format(java.util.Locale.ROOT, p, Double.box(v))

  private val OutJsonl = "diagnostics/annbench.jsonl"

  /** Append one sub-command row to the JSONL log, stamped with the
    * environment yardsticks measured just before the step. */
  private def emit(kind: String, n: Long, algo: String, env: (Double, Double),
      fields: Seq[(String, Double)]): Unit = {
    val fj = fields.map { case (k, v) => s""","$k":${fmt("%.4f", v)}""" }.mkString
    val line =
      s"""{"dist":"clustered","n":$n,"d":$D,"k":$K,"kind":"$kind","algo":"$algo",""" +
        s""""spin_s":${fmt("%.3f", env._1)},"eff_cores":${fmt("%.2f", env._2)}$fj}""" +
        "\n"
    val out = java.nio.file.Paths.get(OutJsonl)
    Option(out.toAbsolutePath.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(out, line.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    System.err.println(s"[annbench] $line")
  }

  private def envNow(): (Double, Double) =
    (graft.EnvProbe.spinSeconds(), graft.EnvProbe.effectiveCores())

  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
    // the 1e8 probe's re-rank shuffle+sort spill can exceed a small root
    // disk; SPARK_GRAFT_LOCAL_DIR points the spill at a roomier volume
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").foreach(d =>
      builder.config("spark.local.dir", d))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def arg(i: Int): Option[String] = args.lift(i)
    def n: Long = arg(1).map(_.toLong)
      .getOrElse(throw new IllegalArgumentException(Usage))
    def park: String = arg(2).getOrElse(throw new IllegalArgumentException(Usage))
    try args.headOption match {
      case Some("oracle") => oracle(spark, n)
      case Some("auto") => auto(spark, n)
      case Some("probe") =>
        probe(spark, n, park, arg(3).fold(27)(_.toInt), arg(4).fold(-1)(_.toInt),
          arg(5).fold(3)(_.toInt))
      case Some("delete") =>
        delete(spark, n, park,
          arg(3).map(_.toDouble).getOrElse(throw new IllegalArgumentException(Usage)),
          arg(4).fold(27)(_.toInt))
      case Some(a) if !a.forall(_.isDigit) => throw new IllegalArgumentException(Usage)
      case _ =>
        grid(spark, if (args.nonEmpty) args.map(_.toLong).toSeq
          else Seq(200000L, 1000000L, 10000000L))
    } finally spark.stop()
  }

  private def clusteredCorpus(spark: SparkSession, n: Long): (DataFrame, DataFrame) = {
    val corpus = AnnData.synthCorpus(spark, "clustered", n, D)
    (corpus, corpus.filter(col("vec_id") < 50))
  }

  /** `reps` probes of `idx` at (np, sl): the last result and the
    * per-rep seconds. */
  private def probeReps(idx: Similarity.IvfPqIndex, corpus: DataFrame,
      queries: DataFrame, np: Int, sl: Int, reps: Int): (Set[(Long, Long)], Seq[Double]) = {
    val runs = (1 to reps).map(_ => timed(pairsOf(
      idx.topK(queries, "vec_id", "embedding", K, np, sl, corpus))))
    (runs.last._1, runs.map(_._2))
  }

  private def timing(ts: Seq[Double]): Seq[(String, Double)] =
    Seq("probe_s" -> median(ts), "probe_min" -> ts.min, "probe_max" -> ts.max)

  private def oracle(spark: SparkSession, n: Long): Unit = {
    val (corpus, queries) = clusteredCorpus(spark, n)
    val env = envNow()
    val (res, t) = timed(
      Similarity.topK(corpus, queries, "vec_id", "embedding", K)
        .select("query_id", "neighbor_id").localCheckpoint())
    res.write.mode("overwrite").parquet(oraclePath(n))
    emit("oracle", n, "exact[50q,persisted]", env,
      Seq("scan_s" -> t, "pairs" -> res.count().toDouble))
  }

  private def auto(spark: SparkSession, n: Long): Unit = {
    val (corpus, queries) = clusteredCorpus(spark, n)
    val exact = pairsOf(spark.read.parquet(oraclePath(n)))
    val envB = envNow()
    val ((idx, np, sl), tBuild) = withConf(spark,
      "algo" -> "ivfpq", "nlist" -> "auto", "nprobe" -> "auto",
      "tppc" -> "auto", "shortlist" -> "auto") {
      timed(Similarity.annBuildIvfPq(corpus, "vec_id", "embedding", D))
    }
    val nlist = idx.assignCentroids.length
    val code = s"${idx.model.m}x${idx.model.ksub}"
    val park = s"${AnnData.Root}/park_clustered_${n}_auto"
    val (_, tSave) = timed(idx.save(park))
    idx.unpersist()
    emit("build", n, s"ivfpq[conf-auto,a$nlist/c$np,auto->$code]", envB,
      Seq("build_s" -> tBuild, "save_s" -> tSave,
        "files" -> parquetFiles(s"$park/layout").toDouble,
        "m" -> idx.model.m.toDouble, "ksub" -> idx.model.ksub.toDouble))
    val envP = envNow()
    val (res, ts) = probeReps(Similarity.loadIvfPq(spark, park), corpus, queries,
      np, sl, reps = 3)
    emit("probe", n, s"ivfpq[parked,a$nlist/c$np,$code]", envP,
      timing(ts) :+ ("recall" -> recOf(exact, res)))
  }

  private def probe(spark: SparkSession, n: Long, park: String, np: Int,
      sl: Int, reps: Int): Unit = {
    val (corpus, queries) = clusteredCorpus(spark, n)
    val exact = pairsOf(spark.read.parquet(oraclePath(n)))
    val env = envNow()
    val loaded = Similarity.loadIvfPq(spark, park)
    val (res, ts) = probeReps(loaded, corpus, queries, np, sl, reps)
    emit("probe", n,
      s"ivfpq[parked,a${loaded.assignCentroids.length}/c$np," +
        s"${loaded.model.m}x${loaded.model.ksub},sl=$sl]",
      env, timing(ts) ++ Seq("recall" -> recOf(exact, res),
        "files" -> parquetFiles(s"$park/layout").toDouble))
  }

  private def delete(spark: SparkSession, n: Long, park: String, frac: Double,
      np: Int): Unit = {
    val (corpus, queries) = clusteredCorpus(spark, n)
    // removal set: every id == 1 (mod `mod`) — about `frac` of the corpus
    val mod = math.max(2L, math.round(1.0 / frac))
    val removals = corpus.select(col("vec_id"))
      .filter(pmod(col("vec_id"), lit(mod)) === lit(1L))
    val env = envNow()
    val (nDel, tDel) = timed(
      Similarity.deleteFromIndex(spark, park, removals, "vec_id"))
    emit("build", n, s"ivfpq[delete,mod$mod]", env,
      Seq("delete_s" -> tDel, "tombstones" -> nDel.toDouble))
    // probe with the tombstones live (bloom anti-join regime at > 1M)
    val (res, ts) = probeReps(Similarity.loadIvfPq(spark, park), corpus,
      queries, np, sl = -1, reps = 3)
    val ghost = res.count { case (_, nb) => nb % mod == 1 }
    require(ghost == 0, s"deleted ids surfaced in probe: $ghost pairs")
    emit("probe", n, s"ivfpq[tombstoned,mod$mod,c$np]", env,
      timing(ts) :+ ("ghosts" -> ghost.toDouble))
    // compact: rewrite the affected cells, clear the tombstones
    val (removed, tCompact) = timed(Similarity.compactIndex(spark, park))
    val env2 = envNow()
    val (res2, ts2) = probeReps(Similarity.loadIvfPq(spark, park), corpus,
      queries, np, sl = -1, reps = 3)
    require(res2 == res,
      s"compaction changed probe results: ${(res diff res2).take(3)}")
    emit("build", n, s"ivfpq[compact,mod$mod]", env2,
      Seq("compact_s" -> tCompact, "removed" -> removed.toDouble,
        "files" -> parquetFiles(s"$park/layout").toDouble))
    emit("probe", n, s"ivfpq[compacted,mod$mod,c$np]", env2,
      timing(ts2) :+ ("equal_to_tombstoned" -> 1.0))
  }

  private def grid(spark: SparkSession, ns: Seq[Long]): Unit = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[Entry]
    val dists = Seq("uniform", "clustered", "aniso")
    for (dist <- dists; n <- ns
         if !(dist == "aniso" && n != 1000000L)) { // aniso: the 1M OPQ tier only
      val big = n > 2000000L
      val corpus = AnnData.synthCorpus(spark, dist, n, D).persist()
      corpus.count()
      val queries = corpus.filter(col("vec_id") < 50)

      val (exact, tExact) = timed(pairsOf(
        Similarity.topK(corpus, queries, "vec_id", "embedding", K)))
      entries += Entry(dist, n, "exact", 0.0, tExact, 1.0)
      def rec(s: Set[(Long, Long)]): Double = recOf(exact, s)

      // nlist: <=1M tiers keep the r9/r10 sqrt(n)/4-capped-at-256 shape
      // so rows stay comparable across rounds. At 10M the two regimes
      // diverge: clustered data is where MANY cells pay (sublinear
      // probes at equal cell recall, smaller worst-case scans), so it
      // keeps the sqrt scaling (790); uniform data has no positional
      // structure for extra cells to exploit — more cells only inflate
      // the O(n*nlist*d) assignment pass — so it stays at 256.
      val nlist =
        if (big && dist == "clustered") math.max(16, math.sqrt(n.toDouble).toInt / 4)
        else math.min(256, math.max(16, math.sqrt(n.toDouble).toInt / 4))
      val nprobe =
        if (big && dist == "clustered") math.max(16, nlist / 8)
        else math.max(4, nlist / 4)
      // Coarse training: AUTO everywhere (round 11). At or under ~1.25M
      // rows this is EXACTLY the unsampled full training the r9/r10
      // small tiers pinned; above it the mini-batch trainer holds
      // full-training cell recall (uniform 10M: one-sample t256 0.91,
      // one-sample 1.25M 0.904, mini-batch 1.000) at a per-iteration
      // cost constant in n.
      val tppc = 0

      // build time includes materializing the layout (persist+count) —
      // the production build-once/probe-many contract
      val (ivf, tIvfBuild) = timed {
        val i = Similarity.buildIvf(corpus, "vec_id", "embedding", D, nlist,
          iters = 3, trainPointsPerCentroid = tppc)
        i.persist()
        i.topWidths(1) // any action over the layout fills the persisted blocks
        i
      }
      val (ivfRes, tIvfProbe) = timed(pairsOf(
        ivf.topK(queries, "vec_id", "embedding", K, nprobe)))
      entries += Entry(dist, n, s"ivf[$nlist/$nprobe,auto]", tIvfBuild, tIvfProbe, rec(ivfRes))

      // calibrated probe width (round 11): nprobe from a MEASURED
      // cell-recall estimate at target 0.95 instead of a fixed fraction
      // — the big tiers record the honest scan-fraction trade
      if (big) {
        val (cal, tCal) = timed(ivf.calibrateNprobe(0.95))
        val (calRes, tCalProbe) = timed(pairsOf(
          ivf.topK(queries, "vec_id", "embedding", K, cal)))
        entries += Entry(dist, n, s"ivf[$nlist/c$cal,auto]", tCal, tCalProbe, rec(calRes))
      }
      ivf.unpersist()

      // nlist=auto at 10M (round 12): the conf-surface sizing rule
      // (~sqrt(n)/4) measured against the hand-tuned row above. On
      // clustered data auto == the hand-tuned 790, so the uniform tier
      // carries the row where the rule actually deviates (790 vs 256).
      if (big && dist == "uniform") {
        val (aivf, tABuild) = timed {
          val i = Similarity.buildIvf(corpus, "vec_id", "embedding", D,
            nlist = 0, iters = 3, trainPointsPerCentroid = 0)
          i.persist()
          i.topWidths(1)
          i
        }
        val anl = aivf.centroids.length
        val (acal, _) = timed(aivf.calibrateNprobe(0.95))
        val (aRes, tAProbe) = timed(pairsOf(
          aivf.topK(queries, "vec_id", "embedding", K, acal)))
        entries += Entry(dist, n, s"ivf[a$anl/c$acal,auto]", tABuild, tAProbe, rec(aRes))
        aivf.unpersist()
      }

      if (!big) {
        // PQ: m=16 x 256 codewords, shortlist 2k
        val (pqModel, tPqBuild) = timed(
          Similarity.pqTrain(corpus, "vec_id", "embedding", D, m = 16, ksub = 256))
        val (pqRes, tPqProbe) = timed(pairsOf(
          Similarity.pqTopK(corpus, queries, "vec_id", "embedding", K, pqModel,
            shortlist = 2000)))
        entries += Entry(dist, n, "pq[16x256]", tPqBuild, tPqProbe, rec(pqRes))

        // BQ: training-free, shortlist 2k
        val (bqRes, tBqProbe) = timed(pairsOf(
          Similarity.bqTopK(corpus, queries, "vec_id", "embedding", K, D, shortlist = 2000)))
        entries += Entry(dist, n, "bq", 0.0, tBqProbe, rec(bqRes))
      }

      // IVF+PQ. m is bytes/vector; at the headline m=16 budget the auto
      // refine depth is the recall knob at fixed memory — and past the
      // 65536 heap ceiling it now runs on the spill-safe rank engine
      // instead of clamping (the r10 clustered-10M 0.82).
      def ivfpqRows(m: Int, opqIters: Int, probes: Seq[(Int, String, Int)],
          calibrate: Boolean = false): Unit = {
        val tag = if (opqIters > 0) s",opq$opqIters" else ""
        val (ivfpq, tBuild) = timed {
          val idx = Similarity.buildIvfPq(corpus, "vec_id", "embedding", D,
            nlist = nlist, ivfIters = 3, m = m, ksub = 256, pqIters = 3,
            opqIters = opqIters, trainPointsPerCentroid = tppc)
          idx.coded.persist().count() // materialize like a snapshot would
          idx
        }
        // calibrated width against THIS index's own coarse quantizer.
        // From r13 the calibrated row's build_s records the CALIBRATION
        // scan itself (the ivf cal rows' convention — the index build
        // cost is already on the sibling fixed-probe row from the same
        // build), so the estimator's cost is a first-class grid figure.
        val allProbes = probes.map(p => (p, tBuild)) ++ (if (calibrate) {
          val (c, tCal) = timed(
            ivfpq.calibrateNprobe(corpus, "vec_id", "embedding", 0.95))
          Seq(((c, s"c$c,auto", -1), tCal))
        } else Seq.empty)
        allProbes.foreach { case ((np, label, s), bS) =>
          val (res, tProbe) = timed(pairsOf(
            ivfpq.topK(queries, "vec_id", "embedding", K, np, s, corpus)))
          entries += Entry(dist, n, s"ivfpq[$nlist/$np,${m}x256$tag,$label]",
            bS, tProbe, rec(res))
        }
        ivfpq.coded.unpersist(blocking = false)
      }
      if (!big) {
        if (dist == "aniso") {
          // the OPQ pair: identical index bytes + fixed depth, rotation
          // off vs on — isolates what the learned rotation buys on
          // anisotropic residuals
          ivfpqRows(16, 0, Seq((nprobe, "s2000", 2000)))
          ivfpqRows(16, 8, Seq((nprobe, "s2000", 2000)))
        } else {
          ivfpqRows(16, 0, Seq((nprobe, "s2000", 2000), (nprobe, "auto", -1)))
          if (dist == "clustered" && n >= 1000000L)
            ivfpqRows(16, 8, Seq((nprobe, "s2000", 2000)))
          ivfpqRows(32, 0, Seq((nprobe, "s2000", 2000)))
        }
      } else {
        // the headline 16 B/vector budget, fixed-fraction AND calibrated
        // probe widths (the latter against the ivfpq index's own coarse
        // quantizer — see IvfPqIndex.calibrateNprobe)
        ivfpqRows(16, 0, Seq((nprobe, "auto", -1)), calibrate = true)
        if (dist == "clustered")
          ivfpqRows(32, 0, Seq((nprobe, "s2000", 2000), (nprobe, "auto", -1)))

        // the fully-auto CONF surface at scale (round 13): the
        // zero-knowledge entry point a pipeline actually calls —
        // algo=ivfpq with EVERY sizing knob on auto (nlist, tppc,
        // nprobe, shortlist); m=16/ksub=256 fix only the 16 B/vector
        // byte budget. Driven through the factored conf path
        // (annBuildIvfPq — exactly what annTopK runs), so build_s is
        // the honest one-shot cost INCLUDING calibration and probe_s
        // is one query batch at the resolved width/depth.
        withConf(spark, "algo" -> "ivfpq", "nlist" -> "auto", "nprobe" -> "auto",
            "tppc" -> "auto", "shortlist" -> "auto", "m" -> "16", "ksub" -> "256") {
          val (built, tCBuild) = timed(
            Similarity.annBuildIvfPq(corpus, "vec_id", "embedding", D))
          val (cIdx, cNp, cSl) = built
          try {
            val anl = cIdx.assignCentroids.length
            val (cRes, tCProbe) = timed(pairsOf(
              cIdx.topK(queries, "vec_id", "embedding", K, cNp, cSl, corpus)))
            entries += Entry(dist, n, s"ivfpq[conf-auto,a$anl/c$cNp,16x256]",
              tCBuild, tCProbe, rec(cRes))
          } finally cIdx.unpersist() // a probe failure must not leak the pinned layout
        }
      }

      entries.filter(e => e.dist == dist && e.n == n).foreach { e =>
        println(f"[annbench] ${e.dist}%9s n=${e.n}%8d ${e.algo}%36s " +
          f"build=${e.buildS}%7.1f s probe=${e.probeS}%6.1f s recall=${e.recall}%.3f")
      }
      corpus.unpersist(blocking = false)
    }

    val json = entries.map { e =>
      f"""{"dist":"${e.dist}","n":${e.n},"d":$D,"k":$K,"algo":"${e.algo}",""" +
        f""""build_s":${"%.2f".format(e.buildS)},"probe_s":${"%.2f".format(e.probeS)},""" +
        f""""recall":${"%.4f".format(e.recall)}}"""
    }.mkString(",\n  ")
    val out = s"""{"artifact":"annbench","master":"local[32]","entries":[\n  $json\n]}\n"""
    val outName = sys.env.getOrElse("SPARK_GRAFT_ANNBENCH_OUT", "ANNBENCH_r13.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outName),
      out.getBytes("UTF-8"))
    println(s"[annbench] wrote $outName with ${entries.size} entries")
  }
}
