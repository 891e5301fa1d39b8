package perfbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/**
 * Per-layer metrics of a traced run, normalised per traced pass. Every name
 * in [[Names]] is reported by every workload; a layer the workload does not
 * reach reads 0.
 */
object Layers {
  val Names: Seq[(String, String)] = Seq(
    "core.kernel_ms" -> "ms", "core.merge_ms" -> "ms", "core.frontier_rows" -> "count",
    "agg.local_ms" -> "ms", "agg.local_rows" -> "count", "agg.survive_ratio" -> "ratio",
    "agg.shuffle_bytes" -> "B", "agg.global_ms" -> "ms",
    "hint.prepass_ms" -> "ms", "hint.extra_jobs" -> "count",
    "kernels.band_join_ms" -> "ms",
    "driver.plan_ms" -> "ms", "driver.gap_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.cpu_ms" -> "ms", "spark.run_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B",
    "stream.batches" -> "count", "stream.addBatch_ms" -> "ms", "stream.planning_ms" -> "ms",
    "stream.walCommit_ms" -> "ms", "stream.commitOffsets_ms" -> "ms",
    "state.commit_ms" -> "ms", "state.rows" -> "count", "state.bytes" -> "B",
    "mix.stream_s" -> "s", "mix.ann_s" -> "s", "mix.dedup_s" -> "s", "mix.sim_s" -> "s",
    "mix.op_s" -> "s", "mix.gate_s" -> "s", "ann.setup_ms" -> "ms",
    "self.core_ms" -> "ms", "self.agg_ms" -> "ms", "self.hint_ms" -> "ms",
    "self.kernels_ms" -> "ms", "self.stream_ms" -> "ms", "self.mix_ms" -> "ms",
    "self.spark_ms" -> "ms", "self.driver_ms" -> "ms",
    "trace.overhead_frac" -> "ratio")

  /** Orders `values` as [[Names]], filling unreached layers with 0. */
  def metrics(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- Names.map(_._1)
    require(unknown.isEmpty, s"unnamed per-layer metrics: $unknown")
    Names.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Counts of the Spark listener and self time per layer. */
  def spark(tr: Tracer, spans: Seq[Span], passes: Int): Map[String, Double] = {
    val p = passes.max(1).toDouble
    val jobs = tr.counters.jobList
    val stages = tr.counters.stageList
    val self = Trace.selfTimeByLayer(spans)
    Map(
      "spark.jobs" -> jobs.size / p,
      "spark.stages" -> stages.size / p,
      "spark.tasks" -> stages.map(_.tasks.toDouble).sum / p,
      "spark.cpu_ms" -> stages.map(_.cpuMs).sum / p,
      "spark.run_ms" -> stages.map(_.runMs.toDouble).sum / p,
      "spark.gc_ms" -> stages.map(_.gcMs.toDouble).sum / p,
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite.toDouble).sum / p,
      "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead.toDouble).sum / p,
      "spark.spill_bytes" -> stages.map(_.spill.toDouble).sum / p,
      "driver.plan_ms" -> spans.filter(s => s.name == "plan").map(_.dur).sum / p) ++
      Seq("core", "agg", "hint", "kernels", "stream", "mix", "spark", "driver")
        .map(l => s"self.${l}_ms" -> self.getOrElse(l, 0.0) / p)
  }

  /** Micro-batch timings and state sizes from streaming progress. */
  def stream(progress: Seq[StreamingQueryProgress], passes: Int): Map[String, Double] = {
    val batches = progress.filter(_.numInputRows > 0)
    def dur(key: String) = Stats.median(batches.map(b =>
      Option(b.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)))
    val ops = batches.map(_.stateOperators.toSeq)
    Map(
      "stream.batches" -> batches.size / passes.max(1).toDouble,
      "stream.addBatch_ms" -> dur("addBatch"),
      "stream.planning_ms" -> dur("queryPlanning"),
      "stream.walCommit_ms" -> dur("walCommit"),
      "stream.commitOffsets_ms" -> dur("commitOffsets"),
      "state.commit_ms" -> Stats.median(ops.map(_.map(_.commitTimeMs.toDouble).sum)),
      "state.rows" -> (0.0 +: ops.map(_.map(_.numRowsTotal.toDouble).sum)).max,
      "state.bytes" -> (0.0 +: ops.map(_.map(_.memoryUsedBytes.toDouble).sum)).max)
  }

  /** Per-op attribution for closed loops: the op execution each job
    * belongs to, and the phase span ("build", "plan", "action", ...) that
    * submitted it. */
  final class Attribution(tr: Tracer, spans: Seq[Span], execs: Seq[OpExec]) {
    private val byId = spans.map(s => s.id -> s).toMap
    private val execBySpan = execs.map(e => e.span -> e).toMap
    private def root(id: Long): Long = byId.get(id) match {
      case Some(s) if s.parent != 0 => root(s.parent)
      case _ => id
    }
    val jobs: Seq[(JobRec, OpExec, String)] = tr.counters.jobList.flatMap { j =>
      execBySpan.get(root(j.span)).map(e => (j, e, byId.get(j.span).map(_.name).getOrElse("")))
    }
    private val stagesByJob = tr.counters.stageList.groupBy(_.jobId)
    def stages(sel: ((JobRec, OpExec, String)) => Boolean): Seq[StageRec] =
      jobs.filter(sel).flatMap { case (j, _, _) => stagesByJob.getOrElse(j.jobId, Nil) }
    def jobSpans(sel: ((JobRec, OpExec, String)) => Boolean): Seq[(Double, Double)] =
      jobs.filter(sel).filter(_._1.end >= 0).map { case (j, _, _) =>
        (j.start.toDouble, j.end.toDouble) }
    def childSpans(e: OpExec, name: String): Seq[Span] =
      spans.filter(s => s.name == name && root(s.id) == e.span)
  }

  /** Driver gap: op wall time not covered by any of its Spark jobs. */
  def gap(a: Attribution, execs: Seq[OpExec], passes: Int): Double =
    execs.map { e =>
      val js = a.jobSpans(_._2 == e).map { case (s, t) =>
        (math.max(s, e.start), math.min(t, e.end)) }.filter(x => x._2 > x._1)
      (e.end - e.start) - Trace.unionLength(js)
    }.sum / passes.max(1)
}
