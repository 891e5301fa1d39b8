package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame

/**
 * One operation of a closed-loop workload. `run` does the timed work inside
 * the caller's span and returns a thunk that digests the result after the
 * clock has stopped.
 */
trait Op {
  def name: String
  /** The layer the call enters (see the README's layer table). */
  def layer: String
  /** Grouping used by the per-layer metrics, e.g. "nohint", "hint:a3_nohint"
    * (a hinted query and its NoHint sibling) or "mix.ann". */
  def family: String
  /** Whether the op's latency counts in the query_* metrics. */
  def query: Boolean = true
  def expected: Digest
  def run(tr: Tracer): () => Digest
}

/** A DataFrame query: construction (which may run eager jobs, e.g. a
  * hint's pre-pass), forced physical planning, then collect(). */
final class QueryOp(val name: String, val layer: String, val family: String,
    val expected: Digest, build: () => DataFrame) extends Op {
  def run(tr: Tracer): () => Digest = {
    val df = tr.span("build", layer)(build())
    tr.span("plan", "driver")(df.queryExecution.executedPlan)
    val rows = tr.span("action", "driver")(df.collect())
    () => Digest.of(df.schema, rows)
  }
}

/** One timed execution of an op. */
final case class OpExec(op: Op, pass: Int, traced: Boolean, span: Long,
    start: Double, end: Double, ok: Boolean) {
  def secs: Double = (end - start) / 1e3
}

/** The ops of one set-up, over the inputs it generated. */
trait Prepared {
  def ops: Seq[Op]
}

final case class LoopResult(setupSecs: Seq[Double], passSecs: Seq[Double],
    tracedPassSecs: Seq[Double], execs: Seq[OpExec], warmFailures: Int,
    warmRuns: Int) {
  def untraced: Seq[OpExec] = execs.filterNot(_.traced)
  def traced: Seq[OpExec] = execs.filter(_.traced)
  /** Median traced pass time over median untraced pass time, minus 1. */
  def overhead: Double = Stats.median(tracedPassSecs) / Stats.median(passSecs) - 1
}

/**
 * Closed loop with one client: set-up is repeated `ctx.setupReps` times
 * (each into a fresh directory, each ending with one warm execution of
 * every op, so the later ones also warm the JVM for the timed section),
 * then complete passes over the ops run until `ctx.seconds` have passed and
 * at least `ctx.minSamples` query latencies are in hand. Ops run
 * in a seeded order that changes every pass. In a traced run untraced and
 * traced passes alternate, so the tracing overhead is measured on the same
 * inputs and host state.
 */
object ClosedLoop {
  def run[P <: Prepared](ctx: Ctx, prepare: File => P): (LoopResult, P) = {
    val tr = ctx.tracer
    val failures = mutable.ArrayBuffer.empty[String]
    var warmRuns = 0
    var last: P = null.asInstanceOf[P]
    val setupSecs = (1 to ctx.setupReps).map { rep =>
      val t0 = System.nanoTime()
      last = prepare(ctx.freshDir(s"setup$rep"))
      last.ops.foreach { op =>
        warmRuns += 1
        val ok = try op.run(tr)() == ctx.expect(op.expected)
          catch { case e: Throwable => ctx.log(s"${op.name} failed in set-up: $e"); false }
        ctx.spark.catalog.clearCache()
        if (!ok) failures += s"warm:${op.name}"
      }
      (System.nanoTime() - t0) / 1e9
    }
    val prepared = last
    val execs = mutable.ArrayBuffer.empty[OpExec]
    val passSecs = mutable.ArrayBuffer.empty[Double]
    val tracedPassSecs = mutable.ArrayBuffer.empty[Double]
    val rng = new Random(ctx.seed)
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    def querySamples = execs.count(e => !e.traced && e.op.query)
    def done = elapsed >= ctx.seconds && querySamples >= ctx.minSamples &&
      passSecs.size >= ctx.minPasses && (!ctx.trace || tracedPassSecs.size >= ctx.minPasses)
    var pass = 0
    while (!done) {
      val traced = ctx.trace && pass % 2 == 1
      if (traced) tr.start() else tr.stop()
      val p0 = System.nanoTime()
      rng.shuffle(prepared.ops).foreach { op =>
        var spanId = 0L
        val start = Clock.nowMs()
        val digest = try tr.span(op.name, op.layer) {
          spanId = tr.currentSpan
          Some(op.run(tr))
        } catch { case e: Throwable => ctx.log(s"${op.name} failed: $e"); None }
        val end = Clock.nowMs()
        val ok = digest.exists { d =>
          try d() == ctx.expect(op.expected)
          catch { case e: Throwable => ctx.log(s"${op.name} digest failed: $e"); false }
        }
        if (!ok) failures += op.name
        ctx.spark.catalog.clearCache()
        execs += OpExec(op, pass, traced, spanId, start, end, ok)
      }
      val secs = (System.nanoTime() - p0) / 1e9
      if (traced) tracedPassSecs += secs else passSecs += secs
      pass += 1
    }
    tr.stop()
    ctx.note("setup_s_each", setupSecs.map(Json.num).mkString("[", ",", "]"))
    ctx.note("pass_s", passSecs.map(Json.num).mkString("[", ",", "]"))
    if (ctx.trace) ctx.note("traced_pass_s", tracedPassSecs.map(Json.num).mkString("[", ",", "]"))
    failures.take(20).foreach(f => ctx.log(s"wrong or failed: $f"))
    (LoopResult(setupSecs, passSecs.toSeq, tracedPassSecs.toSeq, execs.toSeq,
      failures.count(_.startsWith("warm:")), warmRuns), prepared)
  }

  /** End-to-end metrics of an untraced closed-loop run. */
  def endToEnd(ctx: Ctx, r: LoopResult): Seq[Metric] = {
    val lat = r.untraced.filter(_.op.query).map(_.secs)
    ctx.note("query_samples", lat.size.toString)
    ctx.note("op_p50_s", Json.obj(r.untraced.groupBy(_.op.name).toSeq.sortBy(_._1)
      .map { case (n, es) => n -> Json.num(Stats.median(es.map(_.secs))) }))
    Seq(
      Metric("setup_s", Stats.median(r.setupSecs), "s"),
      Metric("wall_s", Stats.median(r.passSecs), "s"),
      Metric("query_p50_s", Stats.median(lat), "s"),
      Metric("query_tail_s", Stats.tail(lat), "s"))
  }

  def counts(r: LoopResult): (Int, Int) = {
    val attempted = r.execs.size + r.warmRuns
    val failed = r.execs.count(!_.ok) + r.warmFailures
    (attempted, failed)
  }
}
