package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

object Stats {
  /** Median; 0 for an empty sample. */
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail percentile, [[TailPct]]. Every run times at least
    * [[Ctx.MinSamples]] operations, so at least ten samples lie beyond it
    * in every run; a fixed percentile keeps runs comparable. */
  def tail(xs: Seq[Double]): Double = quantile(xs, TailPct / 100.0)

  val TailPct = 75
}

/** Everything a workload needs from the run. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Boolean, val smoke: Boolean, val corrupt: Boolean,
    val work: File, val dataDir: File, val tracer: Tracer) {
  /** Set-ups per run; setup_s is their median. */
  val setupReps: Int = if (smoke) 1 else 3
  val minSamples: Int = if (smoke) 1 else Ctx.MinSamples
  val minPasses: Int = if (smoke) 1 else 2
  private val notes = mutable.LinkedHashMap.empty[String, String]

  def note(key: String, jsonValue: String): Unit = notes(key) = jsonValue
  def notesJson: String = Json.obj(notes.toSeq)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** The expected digest, deliberately falsified under --corrupt-expected so
    * the smoke test can show that a mismatch is counted as a failure. */
  def expect(d: Digest): Digest = if (corrupt) d.copy(hash = "corrupted") else d

  def freshDir(name: String): File = {
    val d = new File(work, name)
    Main.deleteTree(d)
    d.mkdirs()
    d
  }
}

/**
 * Benchmark entry point. Usage:
 * {{{
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --work <dir> --data <dir> [--smoke] [--corrupt-expected]
 *                  [--record <file>]
 * }}}
 * Prints a line of run notes (environment, sample counts, percentile
 * names), then, as its last line, the result object.
 */
object Main {
  val Workloads: Seq[String] = Seq("sky_frontier", "engine_mix")

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = new File(opts.getOrElse("work", sys.error("--work is required")))
    val dataDir = new File(opts.getOrElse("data", sys.error("--data is required")))
    work.mkdirs()

    val envStart = env("start")
    val spark = SparkSession.builder()
      .appName(s"perfbench-$workload")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runId = s"$workload-s$seed-${if (trace) "t" else "u"}-${ProcessHandle.current().pid()}"
    val tracer = new Tracer(spark, runId)
    val ctx = new Ctx(spark, seed, seconds, trace, opts.contains("smoke"),
      opts.contains("corrupt-expected"), work, dataDir, tracer)

    val out = opts.get("record") match {
      case Some(file) =>
        Files.writeString(Paths.get(file), MixWorkload.record(ctx))
        spark.stop()
        return
      case None => workload match {
        case "sky_frontier" => SkyWorkloads.frontier(ctx)
        case "engine_mix" => MixWorkload.run(ctx)
      }
    }
    spark.stop()
    ctx.note("env", Json.obj(envStart ++ env("end") ++
      Seq("jvm_cpus" -> Runtime.getRuntime.availableProcessors().toString)))
    if (trace) {
      val spansFile = new File(work.getParentFile, s"spans/$runId.jsonl")
      spansFile.getParentFile.mkdirs()
      Files.writeString(spansFile.toPath, out.spans.map(Trace.toJson).mkString("", "\n", "\n"))
      ctx.note("spans_file", Json.str(spansFile.getPath))
      ctx.note("spans", out.spans.size.toString)
    }
    val metrics =
      if (trace) out.perLayer
      else out.endToEnd :+ Metric("peak_rss_mb", peakRssMb(), "MB")
    ctx.note("workload", Json.str(workload))
    ctx.note("query_tail_pct", Stats.TailPct.toString)
    println(ctx.notesJson)
    val metricJson = Json.obj(metrics.map(m =>
      m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))
    println(Json.obj(Seq(
      "correct" -> (out.failed == 0).toString,
      "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> metricJson)))
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val m = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val k = args(i).stripPrefix("--")
      if (i + 1 < args.length && !args(i + 1).startsWith("--")) { m(k) = args(i + 1); i += 2 }
      else { m(k) = ""; i += 1 }
    }
    m.toMap
  }

  /** Host contention at one point of the run: effective cores from
    * [[graft.EnvProbe]] and the one-minute load average. */
  private def env(suffix: String): Seq[(String, String)] = {
    val eff = graft.EnvProbe.effectiveCores()
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    Seq(s"eff_cores_$suffix" -> Json.num(eff), s"load_$suffix" -> Json.num(load))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Ctx {
  /** Timed operations per run: ten lie beyond the 75th percentile. */
  val MinSamples = 40
}

/** What a workload hands back to [[Main]]. */
final case class Outcome(attempted: Int, failed: Int, endToEnd: Seq[Metric],
    perLayer: Seq[Metric], spans: Seq[Span])
