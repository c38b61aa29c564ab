package graftbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.tracks.{EventRaw, SnapRow, TrackStateOp}

/** What one track query's sink saw in one pass: rows emitted per batch
  * and each key's newest snapshot. */
final class TrackSink {
  val emitted = mutable.Map.empty[Long, Long]
  val latest = mutable.Map.empty[Long, Array[SnapRow]]

  def record(batchId: Long, rows: Array[SnapRow]): Unit = synchronized {
    emitted(batchId) = rows.length.toLong
    rows.groupBy(_.user_id).foreach { case (u, rs) =>
      if (latest.get(u).forall(_.head.ver < rs.head.ver)) latest(u) = rs.sortBy(r => (r.tsMicros, r.event_id))
    }
  }

  def digest: (Seq[Long], Seq[SnapRow]) = synchronized {
    (emitted.toSeq.sortBy(_._1).map(_._2), latest.toSeq.sortBy(_._1).flatMap(_._2))
  }
}

/** The paper's core pipeline and the reference's crash scenario: two
  * `TrackStateOp.trackSnapshots` queries, one over every event and one
  * over a fixed filter, read one replayable file source. Each op drops
  * the next fixed-size batch file into the source and waits until both
  * queries have processed it. At fixed batch indices both queries are
  * stopped and restarted on their checkpoints. */
final class TrackWorkload(run: Runner, data: String, work: File, batches: Int,
                          batchSize: Int) extends Workload {
  private val spark = run.spark
  import spark.implicits._

  val restartAt: Set[Int] = Set(batches / 3, 2 * batches / 3)
  private val batchDir = new File(data, "batches")
  private val schema = Encoders.product[EventRaw].schema
  private var sinks: Map[String, TrackSink] = Map.empty
  private var first: Option[Map[String, (Seq[Long], Seq[SnapRow])]] = None
  private var consistent = true
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var microBatches = 0L
  private var emittedRows = 0L

  private val queries: Map[String, Dataset[EventRaw] => Dataset[EventRaw]] = Map(
    "all" -> identity,
    "filtered" -> (_.filter(col("eventType") =!= "error")))

  private def start(src: File, pass: File): Map[String, StreamingQuery] =
    queries.map { case (name, f) =>
      val events = spark.readStream.schema(schema).parquet(src.getAbsolutePath).as[EventRaw]
      val sink = sinks(name)
      name -> TrackStateOp.trackSnapshots(f(events)).writeStream
        .outputMode("update")
        .option("checkpointLocation", new File(pass, s"ck-$name").getAbsolutePath)
        .foreachBatch((ds: Dataset[SnapRow], id: Long) => sink.record(id, ds.collect()))
        .start()
    }

  private def stop(qs: Map[String, StreamingQuery]): Unit = {
    if (run.timed) qs.values.foreach(q => progress ++= q.recentProgress.filter(_.numInputRows > 0))
    qs.values.foreach(_.stop())
  }

  def pass(p: Int): Unit = {
    val passDir = new File(work, s"tracks/pass$p")
    val src = new File(passDir, "src")
    src.mkdirs()
    sinks = queries.keys.map(_ -> new TrackSink).toMap
    var qs: Map[String, StreamingQuery] = Map.empty
    try {
      (0 until batches).foreach { k =>
        run.op(s"batch:$k", batchSize.toLong) {
          if (restartAt(k)) run.tracer.layer("tracks.stop")(stop(qs))
          val name = f"b$k%05d.parquet"
          Files.createLink(new File(src, name).toPath, new File(batchDir, name).toPath)
          def drive(): Unit = qs.values.foreach(_.processAllAvailable())
          if (k == 0) run.tracer.layer("tracks.start") { qs = start(src, passDir); drive() }
          else if (restartAt(k)) run.tracer.layer("tracks.restart") { qs = start(src, passDir); drive() }
          else run.tracer.layer("tracks.microbatch")(drive())
        }
      }
    } finally stop(qs)
    val d = sinks.map { case (n, s) => n -> s.digest }
    if (run.timed) {
      microBatches += batches * queries.size
      emittedRows += d.values.map(_._1.sum).sum
    }
    first match {
      case None => first = Some(d)
      case Some(f) => if (f != d) consistent = false
    }
  }

  def dump(out: File): Unit = {
    out.mkdirs()
    val qjson = sinks.toSeq.sortBy(_._1).map { case (n, s) =>
      val (emitted, latest) = s.digest
      val rows = latest.map(r => s"[${r.user_id}, ${r.tsMicros}, ${r.event_id}, " +
        s"${Json.str(r.event_type)}, ${Json.num(r.value)}, ${r.ver}]")
      n -> s"""{"emitted": ${emitted.mkString("[", ", ", "]")}, "latest": ${rows.mkString("[", ",\n", "]")}}"""
    }
    val json = Json.obj(Seq(
      "consistent" -> consistent.toString,
      "batches" -> batches.toString,
      "batch_size" -> batchSize.toString,
      "restart_at" -> restartAt.toSeq.sorted.mkString("[", ", ", "]"),
      "queries" -> Json.obj(qjson)))
    Files.write(new File(out, "tracks.json").toPath, json.getBytes(UTF_8))
  }

  override def layerMetrics: Map[String, Double] = {
    val n = progress.size.max(1).toDouble
    def dur(keys: String*): Double =
      progress.map(p => keys.map(k => p.durationMs.getOrDefault(k, 0L).toDouble).sum).sum / n
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Seq[Double] =
      progress.flatMap(_.stateOperators.headOption.map(f)).toSeq
    Map(
      "tracks.trigger_ms" -> dur("triggerExecution"),
      "tracks.planning_ms" -> dur("queryPlanning"),
      "tracks.wal_commit_ms" -> dur("walCommit", "commitOffsets"),
      "tracks.add_batch_ms" -> dur("addBatch"),
      "tracks.state_commit_ms" -> state(_.commitTimeMs.toDouble).sum / n,
      "tracks.state_update_ms" -> state(_.allUpdatesTimeMs.toDouble).sum / n,
      "tracks.state_memory_bytes" -> (0.0 +: state(_.memoryUsedBytes.toDouble)).max,
      "tracks.state_rows" -> state(_.numRowsTotal.toDouble).sum / n,
      "tracks.state_rows_updated" -> state(_.numRowsUpdated.toDouble).sum / n,
      "tracks.rows_emitted" -> (if (microBatches == 0) 0.0 else emittedRows.toDouble / microBatches),
      "tracks.restart_ms" -> run.tracer.layerMeanMs("tracks.restart"))
  }
}
