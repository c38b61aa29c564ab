package graftbench

import java.lang.management.ManagementFactory
import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a named interval and the span that caused it.
  * `counts` holds the layer counters measured at the same boundary. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      endNs: Long, counts: Map[String, Double])

/** Spans and per-layer timers for one benchmark process.
  *
  * Layer timers (`layer`) always accumulate: two `nanoTime` reads per
  * call cost nothing next to a Spark call. Spans are recorded only when
  * `traced`, kept in memory, and written once when the run ends. Nesting
  * is workload > pass > op > layer call; every op runs on one thread,
  * so a plain stack tracks the open span. */
final class Tracer(val traced: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack[Int](0)
  private var nextId = 1
  private val layerNs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val layerCalls = mutable.Map.empty[String, Long].withDefaultValue(0L)

  /** Run `body` inside a span named `name`; `counts` is evaluated after
    * the body, so callers can attach what the body did. */
  def span[T](name: String, counts: => Map[String, Double] = Map.empty)(body: => T): T =
    if (!traced) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.top
      open.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.pop()
        spans += Span(id, parent, name, t0, t1, counts)
      }
    }

  /** A call into one layer: timed always, a span when traced. */
  def layer[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try span(name)(body)
    finally {
      layerNs(name) += System.nanoTime() - t0
      layerCalls(name) += 1
    }
  }

  def layerMeanMs(name: String): Double =
    if (layerCalls(name) == 0) 0.0 else layerNs(name) / 1e6 / layerCalls(name)

  def resetLayers(): Unit = { layerNs.clear(); layerCalls.clear() }

  def toJson: String = spans.sortBy(_.id).map { s =>
    val counts = s.counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.str(k)}: ${Json.num(v)}" }.mkString(", ")
    s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "counts": {$counts}}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Spark execution and planning counters, read through Spark's public
  * listener APIs. Attached only in traced runs.
  *
  * Listener events arrive asynchronously. `drain()` runs a one-task
  * marker job and waits until the listener sees it start: the shared
  * listener queue is ordered, so by then every event of the work before
  * it has been counted. The marker's own job, stage and task are left
  * out of every counter. */
final class Probes(spark: SparkSession) {
  import Probes._
  private val sc: SparkContext = spark.sparkContext
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  @volatile private var latch = new CountDownLatch(1)
  private val markerStages = mutable.Set.empty[Int]
  private val markerJobs = mutable.Set.empty[Int]
  private var activeJobs = 0
  private var activeSince = 0L

  /** Add `v` to counter `k`, for figures read outside the listeners. */
  def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }

  private val execListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
      val props = Option(e.properties).getOrElse(new Properties())
      if (props.getProperty(JobDescription) == DrainTag) {
        markerJobs += e.jobId
        markerStages ++= e.stageIds
        latch.countDown()
      } else {
        c("exec.jobs") += 1
        if (props.getProperty(PhaseKey) == "construct") c("queries.construct_jobs") += 1
        if (activeJobs == 0) activeSince = e.time
        activeJobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = c.synchronized {
      if (!markerJobs.remove(e.jobId)) {
        activeJobs -= 1
        if (activeJobs == 0) c("exec.ms") += (e.time - activeSince).toDouble
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = c.synchronized {
      if (!markerStages.contains(e.stageInfo.stageId)) c("exec.stages") += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
      val m = e.taskMetrics
      if (!markerStages.contains(e.stageId) && m != null) {
        c("exec.tasks") += 1
        c("exec.task_cpu_ms") += m.executorCpuTime / 1e6
        c("exec.task_run_ms") += m.executorRunTime.toDouble
        c("exec.task_gc_ms") += m.jvmGCTime.toDouble
        c("exec.shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead.toDouble
        c("exec.shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
        c("exec.spill_bytes") += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
        c("exec.input_bytes") += m.inputMetrics.bytesRead.toDouble
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = qe.tracker.phases.foreach {
      case (p, s) if Set("analysis", "optimization", "planning")(p) =>
        add(s"plans.${p}_ms", s.durationMs.toDouble)
      case _ =>
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  sc.addSparkListener(execListener)
  spark.listenerManager.register(planListener)

  /** Wait until every listener event posted so far has been counted. */
  def drain(): Unit = {
    latch = new CountDownLatch(1)
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(DrainTag)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setJobDescription(prev)
    if (!latch.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener queue did not drain in 60 s")
  }

  /** Cumulative counters, codegen included; call after `drain()`.
    * Codegen time comes from Spark's compile-time histogram, which holds
    * whole milliseconds and keeps every sample until it has seen 1028;
    * past that its mean stands in for the lost samples. */
  def counters: Map[String, Double] = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val codegenMs =
      if (h.getCount <= snap.size) snap.getValues.map(_.toDouble).sum
      else snap.getMean * h.getCount
    c.synchronized(c.toMap) ++ Map(
      "plans.codegen_compiles" -> h.getCount.toDouble,
      "plans.codegen_ms" -> codegenMs)
  }

  def detach(): Unit = {
    sc.removeSparkListener(execListener)
    spark.listenerManager.unregister(planListener)
  }
}

object Probes {
  val DrainTag = "graftbench-drain"
  /** The local property `SparkContext.setJobDescription` sets. */
  val JobDescription = "spark.job.description"
  /** Local property marking which part of an op launched a job. */
  val PhaseKey = "graftbench.phase"

  /** Total JIT compile time and GC time of this JVM so far, in ms. */
  def jvmMs: (Double, Double) = {
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble
    (jit, gc)
  }

  /** Heap in use after a full collection, in MB. The first collection
    * lets Spark's ContextCleaner see dead broadcasts and shuffles; the
    * pause lets it drop their blocks; the second collection frees them. */
  def heapAfterGcMb: Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this process in MB, from the kernel's
    * high-water mark for it. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
