package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: a fixed round of ops (a pass) that the
  * runner repeats, plus what the correctness checker needs afterwards. */
trait Workload {
  /** Input preparation; counted in set-up time. */
  def prepare(): Unit = ()
  /** One whole pass; every op goes through `Runner.op`. */
  def pass(p: Int): Unit
  /** Write the outputs the checker compares; runs after the timed region. */
  def dump(out: File): Unit
  /** Workload-specific per-layer metrics over the timed region. */
  def layerMetrics: Map[String, Double] = Map.empty
}

/** Times ops, counts failures and, in traced runs, attaches the listener
  * counters each op moved to its span. */
final class Runner(val spark: SparkSession, val tracer: Tracer,
                   val probes: Option[Probes]) {
  var timed = false
  val latenciesMs = mutable.ArrayBuffer.empty[Double]
  var units = 0L
  var attempted = 0
  var failed = 0
  private var last: Map[String, Double] = probes.map(_.counters).getOrElse(Map.empty)

  private def delta(): Map[String, Double] = probes match {
    case None => Map.empty
    case Some(p) =>
      p.drain()
      val now = p.counters
      val d = now.map { case (k, v) => k -> (v - last.getOrElse(k, 0.0)) }
      last = now
      d
  }

  /** Run one op. A failing op is counted and logged; the run goes on. */
  def op(name: String, units: Long = 1L)(body: => Unit): Boolean = {
    attempted += 1
    var ms = 0.0
    val ok =
      try {
        tracer.span(name, delta()) {
          val t0 = System.nanoTime()
          try body finally ms = (System.nanoTime() - t0) / 1e6
        }
        true
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] op $name failed: $e")
          false
      }
    if (timed && ok) {
      latenciesMs += ms
      this.units += units
    }
    ok
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Benchmark process: one workload in this fresh JVM.
  *
  * Arguments are `key=value`: workload, data (input tables), work
  * (scratch and output directory), seconds (timed region), trace (0/1),
  * t0ms (epoch ms when set-up began), cores, minops; batches and
  * batchsize for flight_tracks, slices and maxkey for table_commits.
  *
  * Sequence: set-up (session, input preparation) → cold pass (the first
  * pass in this JVM, which also warms it) → timed region of whole passes
  * until both `seconds` and `minops` are reached → outputs for the
  * checker. Writes `work/result.json` and, when traced, `work/trace.json`.
  */
object Main {
  val LayerMetrics: Seq[String] = Seq(
    "tracks.trigger_ms", "tracks.planning_ms", "tracks.wal_commit_ms",
    "tracks.state_commit_ms", "tracks.add_batch_ms", "tracks.state_update_ms",
    "tracks.state_memory_bytes", "tracks.restart_ms", "tracks.state_rows",
    "tracks.state_rows_updated", "tracks.rows_emitted",
    "queries.construct_ms", "queries.construct_jobs",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "plans.codegen_compiles", "plans.codegen_ms",
    "exec.ms", "exec.task_cpu_ms", "exec.task_run_ms", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.input_bytes", "exec.task_gc_ms",
    "acid.append_ms", "acid.merge_ms", "acid.delete_ms", "acid.snapshot_ms",
    "acid.reopen_ms", "acid.log_bytes", "acid.live_files", "acid.live_bytes",
    "acid.write_amplification",
    "jvm.jit_ms", "jvm.gc_ms", "jvm.peak_rss_mb")

  /** Counters reported as cold-pass totals rather than per-op means:
    * after the cold pass the codegen cache serves every query. */
  private val ColdCounters = Set("plans.codegen_compiles", "plans.codegen_ms")

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      // linear interpolation between closest ranks
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val name = opt("workload")
    val data = new File(opt("data")).getAbsolutePath
    val work = new File(opt("work"))
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val t0Ms = opt("t0ms").toLong
    val cores = opt("cores").toInt
    val minOps = opt("minops").toInt

    val spark = session(cores, work)
    val tracer = new Tracer(traced)
    val probes = if (traced) Some(new Probes(spark)) else None
    val run = new Runner(spark, tracer, probes)
    val workload: Workload = name match {
      case "sql_gates" => new GateWorkload(run, data, Gates.Sql)
      case "flight_tracks" =>
        new TrackWorkload(run, data, work, opt("batches").toInt, opt("batchsize").toInt)
      case "table_commits" =>
        new CommitWorkload(run, data, work, opt("slices").toInt, opt("maxkey").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    tracer.span(s"workload:$name") {
      workload.prepare()
      val coldStart = System.currentTimeMillis()
      metrics("setup_s") = (coldStart - t0Ms) / 1000.0
      val coldBase = probes.map { p => p.drain(); p.counters }.getOrElse(Map.empty)
      tracer.span("pass:0")(workload.pass(0))
      metrics("cold_pass_s") = (System.currentTimeMillis() - coldStart) / 1000.0
      val (jitMs, gcMs) = Probes.jvmMs
      layer("jvm.jit_ms") = jitMs
      layer("jvm.gc_ms") = gcMs

      val base = probes.map { p => p.drain(); p.counters }.getOrElse(Map.empty)
      ColdCounters.foreach(k => layer(k) = base.getOrElse(k, 0.0) - coldBase.getOrElse(k, 0.0))
      tracer.resetLayers()
      run.timed = true
      val coldAttempts = run.attempted
      val start = System.nanoTime()
      var p = 1
      while ((System.nanoTime() - start) / 1e9 < seconds || run.attempted - coldAttempts < minOps) {
        tracer.span(s"pass:$p")(workload.pass(p))
        p += 1
      }
      val wallS = (System.nanoTime() - start) / 1e9
      run.timed = false
      val ops = run.latenciesMs.size
      metrics("ops_per_s") = run.units / wallS
      metrics("op_p50_ms") = percentile(run.latenciesMs.toSeq, 0.5)
      metrics("op_p90_ms") = percentile(run.latenciesMs.toSeq, 0.9)

      probes.foreach { p =>
        p.drain()
        val end = p.counters
        LayerMetrics.filter(k => k.startsWith("exec.") || k.startsWith("plans.") ||
            k == "queries.construct_jobs")
          .filterNot(ColdCounters)
          .foreach(k => layer(k) = (end.getOrElse(k, 0.0) - base.getOrElse(k, 0.0)) / ops.max(1))
        p.detach()
      }
      if (traced) layer ++= workload.layerMetrics
      System.err.println(s"[perfbench] $name: ${p - 1} timed passes, $ops ops, " +
        f"$wallS%.2f s, ${run.attempted} attempted, ${run.failed} failed")
      // Resident set size wandered by a fifth between runs of the same
      // inputs (G1 heap sizing), so the memory figure is the heap that
      // stays live after a full collection at the end of the timed
      // region; the resident peak is kept as the per-layer jvm.peak_rss_mb.
      metrics("peak_rss_mb") = Probes.heapAfterGcMb
      workload.dump(new File(work, "out"))
    }
    layer("jvm.peak_rss_mb") = Probes.peakRssMb

    val layerOut = LayerMetrics.map(k => k -> Json.num(layer.getOrElse(k, 0.0)))
    val result = Json.obj(Seq(
      "workload" -> Json.str(name),
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "ops" -> run.latenciesMs.size.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(if (traced) layerOut else Nil)))
    Files.write(new File(work, "result.json").toPath, result.getBytes(UTF_8))
    if (traced) Files.write(new File(work, "trace.json").toPath, tracer.toJson.getBytes(UTF_8))
    spark.stop()
  }
}
