package perfbench

import java.io.File

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import graft.core.{Direction, SkylineCore}
import graft.operators.{AngleHint, DimHint, GridHint, NoHint, PartitionHint}
import graft.operators.SkylineOps._

/**
 * The batch skyline workload. It generates its point sets from the seed
 * during set-up, computes the expected result of every query with
 * [[SkylineCore]] on the same generated points, and then only hands the
 * engine the parquet files.
 */
object SkyWorkloads {
  private val Band = 2

  /** `sky_frontier`: frontier-heavy data, so dominance tests and the
    * single-task global merge do the work and the scan is negligible. */
  def frontier(ctx: Ctx): Outcome = {
    val s = if (ctx.smoke) 20 else 1
    val f7 = PointSet("f7", Uniform, 7, 50000 / s, 4)
    val a3 = PointSet("a3", AntiCorrelated, 3, 60000 / s, 4)
    val a4 = PointSet("a4", AntiCorrelated, 4, 150000 / s, 4)
    val b7 = PointSet("b7", Uniform, 7, 6000 / s, 4)
    val c7 = PointSet("c7", Uniform, 7, 40000 / s, 4)
    runSky(ctx, Seq(f7, a3, a4, b7), Some(c7), paths => Seq(
      SkyQuery("f7_nohint", f7, paths(f7), mins(7), NoHint),
      SkyQuery("f7_angle2", f7, paths(f7), mins(7), AngleHint(2)),
      SkyQuery("a3_nohint", a3, paths(a3), mins(3), NoHint),
      SkyQuery("a3_dim4", a3, paths(a3), mins(3), DimHint(4)),
      SkyQuery("a3_grid4", a3, paths(a3), mins(3), GridHint(4)),
      SkyQuery("a4_nohint", a4, paths(a4), mins(4), NoHint),
      SkyQuery("a4_dim4", a4, paths(a4), mins(4), DimHint(4)),
      SkyQuery("a4_angle2", a4, paths(a4), mins(4), AngleHint(2))),
      paths => Seq(
      bandOp(ctx, "b7_band", b7, paths(b7), join = false),
      bandOp(ctx, "b7_join", b7, paths(b7), join = true)))
  }

  private def mins(d: Int): Seq[Boolean] = Seq.fill(d)(true)

  private def dims(set: PointSet, minDir: Seq[Boolean]): Seq[(String, Direction)] =
    set.cols.zip(minDir).map { case (c, m) => c -> (if (m) Direction.Min else Direction.Max) }

  /** Expected skylines, computed once per set-up and direction vector: the
    * skyline of each file on its own thread, then the merge of those (the
    * skyline of a union is the skyline of its parts' skylines). */
  final class Oracle(seed: Long) {
    private val cache = scala.collection.mutable.Map.empty[(String, Seq[Boolean]), Digest]
    def skyline(set: PointSet, minDir: Seq[Boolean]): Digest =
      cache.getOrElseUpdate((set.tag, minDir), {
        val dir = minDir.toArray
        val locals = (0 until set.files).map(f => Future(
          SkylineCore.skylineOf(Gen.filePoints(set, seed, f).map(Gen.toDoubles), dir)))
        val sky = locals.map(Await.result(_, Duration.Inf)).reduce(SkylineCore.merge(_, _, dir))
        Digest.ofValues(sky.map(_.toSeq.map(_.toInt)))
      })
  }

  final case class SkyQuery(name: String, set: PointSet, path: String,
      minDir: Seq[Boolean], hint: PartitionHint) {
    def op(ctx: Ctx, oracle: Oracle): Op = {
      val spark = ctx.spark
      val (layer, family) = hint match {
        case NoHint => ("agg", "nohint")
        case _ => ("hint", s"hint:${set.tag}_nohint")
      }
      val ds = dims(set, minDir)
      new QueryOp(name, layer, family, oracle.skyline(set, minDir),
        () => spark.read.parquet(path).skyline(ds, hint))
    }

    /** Rows the per-task partial aggregates hand to the global merge: the
      * skyline of each scan split, computed with the core on the very
      * splits the query's scan reads. */
    def localRows(ctx: Ctx): Long = {
      val d = set.d
      val dir = minDir.toArray
      ctx.spark.read.parquet(path).select(set.cols.head, set.cols.tail: _*).rdd
        .mapPartitions { it =>
          Iterator(SkylineCore.skylineOf(
            it.map(r => Array.tabulate(d)(i => r.getInt(i).toDouble)), dir).size.toLong)
        }.collect().sum
    }
  }

  private def bandOp(ctx: Ctx, name: String, set: PointSet, path: String, join: Boolean): Op = {
    val band = SkylineCore.kSkybandOf(
      Gen.points(set, ctx.seed).map(Gen.toDoubles), Array.fill(set.d)(true), Band)
    val expected = Digest.ofValues(band.map { case (p, c) => c.toLong +: p.toSeq.map(_.toInt) })
    val ds = dims(set, mins(set.d))
    val spark = ctx.spark
    if (join) new QueryOp(name, "kernels", "band_join", expected,
      () => spark.read.parquet(path).kSkybandJoin(ds, Band))
    else new QueryOp(name, "agg", "band", expected,
      () => spark.read.parquet(path).kSkyband(ds, Band))
  }

  /** Driver-side core run on the points of `set`: one local skyline per
    * file (the per-partition kernel), then the merge of those skylines. */
  final class CoreOp(set: PointSet, seed: Long, val expected: Digest) extends Op {
    val name = s"${set.tag}_core"
    val layer = "core"
    val family = "core"
    override val query = false
    private val chunks = (0 until set.files).map(f =>
      Gen.filePoints(set, seed, f).map(Gen.toDoubles).toArray)
    private val minDir = Array.fill(set.d)(true)
    var frontierRows = 0
    def run(tr: Tracer): () => Digest = {
      val locals = chunks.map(c => tr.span("kernel", "core")(SkylineCore.skylineOf(c, minDir)))
      val merged = tr.span("merge", "core")(
        locals.reduce((a, b) => SkylineCore.merge(a, b, minDir)))
      frontierRows = merged.size
      () => Digest.ofValues(merged.map(_.toSeq.map(_.toInt)))
    }
  }

  private final class SkyPrepared(val ops: Seq[Op], val queries: Seq[SkyQuery]) extends Prepared

  private def runSky(ctx: Ctx, sets: Seq[PointSet], coreSet: Option[PointSet],
      queries: Map[PointSet, String] => Seq[SkyQuery],
      extra: Map[PointSet, String] => Seq[Op]): Outcome = {
    val (r, prepared) = ClosedLoop.run(ctx, dir => {
      val paths = sets.map { s =>
        val p = new File(dir, s.tag).getAbsolutePath
        Gen.write(ctx.spark, s, ctx.seed, p)
        s -> p
      }.toMap
      val oracle = new Oracle(ctx.seed)
      val core = coreSet.map(s => new CoreOp(s, ctx.seed, oracle.skyline(s, mins(s.d))))
      val qs = queries(paths)
      new SkyPrepared(qs.map(_.op(ctx, oracle)) ++ extra(paths) ++ core, qs)
    })
    val spans = if (ctx.trace) ctx.tracer.allSpans() else Nil
    val (attempted, failed) = ClosedLoop.counts(r)
    val e2e = ClosedLoop.endToEnd(ctx, r)
    val perLayer = if (!ctx.trace) Nil else Layers.metrics(skyLayers(ctx, r, spans, prepared))
    Outcome(attempted, failed, e2e, perLayer, spans)
  }

  private def skyLayers(ctx: Ctx, r: LoopResult, spans: Seq[Span],
      prepared: SkyPrepared): Map[String, Double] = {
    val passes = r.tracedPassSecs.size.max(1)
    val p = passes.toDouble
    val execs = r.traced
    val a = new Layers.Attribution(ctx.tracer, spans, execs)
    val isAgg = (e: OpExec) => e.op.layer == "agg" || e.op.layer == "hint"
    val aggStages = a.stages { case (_, e, phase) => isAgg(e) && phase == "action" }
    val (local, global) = aggStages.partition(_.shuffleWrite > 0)
    val hinted = execs.filter(_.op.layer == "hint")
    def jobCount(e: OpExec) = a.jobs.count(_._2 == e).toDouble
    val baseJobs = execs.filter(_.op.family == "nohint").groupBy(_.op.name)
      .map { case (n, es) => n -> Stats.median(es.map(jobCount)) }
    val extraJobs = hinted.flatMap(e =>
      baseJobs.get(e.op.family.stripPrefix("hint:")).map(jobCount(e) - _))
    val prepass = hinted.map(e => Trace.unionLength(
      a.jobSpans { case (_, x, phase) => x == e && phase == "build" })).sum
    // Rows entering the global merge for the NoHint queries, from the
    // splits the scans read; computed here, after the timed section.
    val noHint = prepared.queries.filter(_.hint == NoHint)
    val localRows = noHint.map(_.localRows(ctx)).sum.toDouble
    val noHintNames = noHint.map(_.name).toSet
    val globalRows = prepared.ops.filter(o => noHintNames(o.name)).map(_.expected.rows).sum.toDouble
    val core = prepared.ops.collectFirst { case c: CoreOp => c }
    Layers.spark(ctx.tracer, spans, passes) ++ Map(
      "agg.local_ms" -> local.map(_.dur.toDouble).sum / p,
      "agg.global_ms" -> global.map(_.dur.toDouble).sum / p,
      "agg.shuffle_bytes" -> local.map(_.shuffleWrite.toDouble).sum / p,
      "agg.local_rows" -> localRows,
      "agg.survive_ratio" -> (if (localRows > 0) globalRows / localRows else 0.0),
      "hint.prepass_ms" -> prepass / p,
      "hint.extra_jobs" -> (if (extraJobs.isEmpty) 0.0 else extraJobs.sum / extraJobs.size),
      "kernels.band_join_ms" -> a.stages(_._2.op.layer == "kernels").map(_.dur.toDouble).sum / p,
      "core.kernel_ms" -> spans.filter(_.name == "kernel").map(_.dur).sum / p,
      "core.merge_ms" -> spans.filter(_.name == "merge").map(_.dur).sum / p,
      "core.frontier_rows" -> core.map(_.frontierRows.toDouble).getOrElse(0.0),
      "driver.gap_ms" -> Layers.gap(a, execs.filter(_.op.query), passes),
      "trace.overhead_frac" -> r.overhead)
  }
}
