package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import graft.SparkEntry

/**
 * `engine_mix`: a fixed slice of the registry's streaming, ANN, dedup and
 * similarity queries, run through `SparkEntry.queries` on the fixed tables
 * under `data/mix`, plus the `SparkEntry.opOnly` split of `ann_pq`. The
 * tables are copied into the set-up directory; the seed orders the ops.
 * Results are checked against row counts and order-insensitive digests
 * recorded once with `--record` (see the README for the cross-check).
 */
object MixWorkload {
  /** (query, family) of every registry query in the mix. */
  val Queries: Seq[(String, String)] = Seq(
    "stream_window_hourly" -> "stream", "stream_mix_sources" -> "stream",
    "stream_sky_li_2d" -> "stream", "stream_topk" -> "stream",
    "ann_topk" -> "ann", "ann_pq" -> "ann",
    "dedup_exact" -> "dedup", "dedup_best" -> "dedup",
    "sim_pairs" -> "sim", "sim_pairs_lsh" -> "sim")

  /** Queries also run through their operator-only split. */
  val OpOnly: Seq[String] = Seq("ann_pq")

  val Tables: Seq[String] = Seq("customer", "documents", "embeddings", "events", "lineitem")

  /** Where the recorded digests live, relative to the data directory. */
  private def expectedFile(ctx: Ctx) = new File(ctx.dataDir, "expected.json")

  private def family(name: String) = Queries.find(_._1 == name).get._2

  /** Full registry query: whatever eager work the query does, then collect. */
  private def query(ctx: Ctx, dir: String, name: String, expected: Digest): Op = {
    val q = SparkEntry.queries(name)
    new QueryOp(name, "mix", s"mix.${family(name)}", expected, () => q(ctx.spark, dir))
  }

  /** The opOnly split: its set-up (e.g. the index build) and then the
    * operator thunk, each in its own span. */
  private final class SplitOp(ctx: Ctx, dir: String, base: String,
      val expected: Digest) extends Op {
    val name = s"$base#op"
    val layer = "mix"
    val family = s"mixop.${MixWorkload.family(base)}"
    /** Its query already runs in the same pass; only the mix.* split uses it. */
    override val query = false
    private val mk = SparkEntry.opOnly(base)
    def run(tr: Tracer): () => Digest = {
      val thunk = tr.span("setup", "mix")(mk(ctx.spark, dir))
      tr.span("thunk", "mix") {
        val df = thunk()
        tr.span("plan", "driver")(df.queryExecution.executedPlan)
        val rows = tr.span("action", "driver")(df.collect())
        () => Digest.of(df.schema, rows)
      }
    }
  }

  private def copyTables(ctx: Ctx, dir: File): Unit = Tables.foreach { t =>
    Files.copy(new File(ctx.dataDir, s"$t.parquet").toPath,
      new File(dir, s"$t.parquet").toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  private def ops(ctx: Ctx, dir: String, expected: String => Digest): Seq[Op] =
    Queries.map { case (n, _) => query(ctx, dir, n, expected(n)) } ++
      OpOnly.map(n => new SplitOp(ctx, dir, n, expected(s"$n#op")))

  def run(ctx: Ctx): Outcome = {
    val recorded = readExpected(expectedFile(ctx))
    val (r, _) = ClosedLoop.run(ctx, dir => {
      copyTables(ctx, dir)
      val all = ops(ctx, dir.getAbsolutePath, n =>
        recorded.getOrElse(n, sys.error(s"no recorded digest for $n in ${expectedFile(ctx)}")))
      new Prepared { val ops: Seq[Op] = all }
    })
    val spans = if (ctx.trace) ctx.tracer.allSpans() else Nil
    val (attempted, failed) = ClosedLoop.counts(r)
    val e2e = ClosedLoop.endToEnd(ctx, r)
    val perLayer = if (!ctx.trace) Nil else Layers.metrics(layers(ctx, r, spans))
    Outcome(attempted, failed, e2e, perLayer, spans)
  }

  private def layers(ctx: Ctx, r: LoopResult, spans: Seq[Span]): Map[String, Double] = {
    val passes = r.tracedPassSecs.size.max(1)
    val p = passes.toDouble
    val execs = r.traced
    val a = new Layers.Attribution(ctx.tracer, spans, execs)
    def secs(fam: String) = execs.filter(_.op.family == fam).map(_.secs).sum / p
    def spanMs(e: OpExec, name: String) = a.childSpans(e, name).map(_.dur).sum
    val splits = execs.filter(_.op.family.startsWith("mixop."))
    val opSecs = splits.map(spanMs(_, "thunk") / 1e3)
    val fullSecs = OpOnly.map(n => execs.filter(_.op.name == n).map(_.secs).sum)
    Layers.spark(ctx.tracer, spans, passes) ++
      Layers.stream(ctx.tracer.progress.progress, passes) ++ Map(
        "mix.stream_s" -> secs("mix.stream"),
        "mix.ann_s" -> secs("mix.ann"),
        "mix.dedup_s" -> secs("mix.dedup"),
        "mix.sim_s" -> secs("mix.sim"),
        "mix.op_s" -> opSecs.sum / p,
        "mix.gate_s" -> (fullSecs.sum - opSecs.sum) / p,
        "ann.setup_ms" -> splits.filter(_.op.family == "mixop.ann").map(spanMs(_, "setup")).sum / p,
        "driver.gap_ms" -> Layers.gap(a, execs.filter(_.op.query), passes),
        "trace.overhead_frac" -> r.overhead)
  }

  /** Runs every op once on the fixed tables and returns the digests as JSON. */
  def record(ctx: Ctx): String = {
    val dir = ctx.freshDir("record")
    copyTables(ctx, dir)
    val placeholder = Digest(0, "")
    val digests = ops(ctx, dir.getAbsolutePath, _ => placeholder).map { op =>
      val d = op.run(ctx.tracer)()
      ctx.spark.catalog.clearCache()
      op.name -> Json.str(d.toString)
    }
    Json.obj(digests) + "\n"
  }

  private def readExpected(f: File): Map[String, Digest] = {
    val txt = new String(Files.readAllBytes(f.toPath), "UTF-8")
    """"([^"]+)"\s*:\s*"([^"]+)"""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> Digest.parse(m.group(2))).toMap
  }
}
