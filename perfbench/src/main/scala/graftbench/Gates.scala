package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.SparkEntry

object Gates {
  /** Relational gates, in pass order. `q_topk_rewrite` runs first because
    * it installs the top-k rewrite into the session for good: putting it
    * first gives every later gate, in every pass, the same session, and
    * times `q_track_topk` with the rewrite installed. */
  val Sql: Seq[String] = Seq(
    "q_topk_rewrite", "q_agg_pricing_summary", "q_join_inner_star",
    "q_sort_topn", "q_topk_native", "q_track_topk", "q_window_rank",
    "q_tpch_q3", "q_tpch_q5", "q_tpch_q10")
}

/** Runs gates through `SparkEntry.queries`, one op per gate: from the
  * construction call to the return of a noop write, which evaluates
  * every output column. */
final class GateWorkload(run: Runner, data: String, gates: Seq[String]) extends Workload {
  private val spark = run.spark
  private val sc = spark.sparkContext

  def pass(p: Int): Unit = gates.foreach { g =>
    run.op(s"gate:$g") {
      sc.setLocalProperty(Probes.PhaseKey, "construct")
      try {
        val df = run.tracer.layer("queries.construct")(SparkEntry.queries(g)(spark, data))
        // A Dataset is analysed when it is built, so the listener, which
        // sees only the noop write, never sees the gate's own analysis.
        run.probes.foreach(_.add("plans.analysis_ms",
          df.queryExecution.tracker.phases.get("analysis").fold(0.0)(_.durationMs.toDouble)))
        sc.setLocalProperty(Probes.PhaseKey, "execute")
        run.tracer.layer("exec.noop_write")(
          df.write.format("noop").mode("overwrite").save())
      } finally sc.setLocalProperty(Probes.PhaseKey, null)
    }
  }

  def dump(out: File): Unit = {
    out.mkdirs()
    gates.foreach { g =>
      try SparkEntry.queries(g)(spark, data).write.mode("overwrite")
        .parquet(new File(out, g).getAbsolutePath)
      catch { case e: Exception => System.err.println(s"[perfbench] dump $g failed: $e") }
    }
    val oracles = Json.obj(gates.flatMap(g => SparkEntry.oracleSql.get(g).map(g -> Json.str(_))))
    Files.write(new File(out, "oracle_sql.json").toPath, oracles.getBytes(UTF_8))
  }

  override def layerMetrics: Map[String, Double] = Map(
    "queries.construct_ms" -> run.tracer.layerMeanMs("queries.construct"))
}
