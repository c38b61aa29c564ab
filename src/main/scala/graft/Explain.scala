package graft

import org.apache.spark.sql.execution.ExplainMode

/** Dev tool: dump formatted physical plans for queries (plan review —
  * pushdown, join strategy, codegen spans).
  *
  *   sbt "runMain graft.Explain [queryName ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    // queries that EXECUTE during construction (streaming runs, eager
    // caches, file writes) are skipped by default — explain them only
    // when named explicitly
    val sideEffecting = Set("q_stream_track_snapshot", "q_stream_track_tws",
      "q_stream_tumble", "q_stream_dedup", "q_stream_static_join",
      "q_stream_stream_join", "q_dedup_minhash", "q_pipeline_training_set",
      "q_source_csv_roundtrip", "q_source_json_roundtrip")
    val named = SparkEntry.lookup(if (args.nonEmpty) args.toSeq
      else SparkEntry.queries.keys.toSeq.sorted.filterNot(sideEffecting))
    val spark = GraftSession.create()
    named.foreach { case (n, fn) =>
      println(s"\n################ $n ################")
      try println(fn(spark, sfDir).queryExecution.explainString(ExplainMode.fromString("formatted")))
      catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
