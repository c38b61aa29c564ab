package graft.tracks

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TTLConfig, TimerValues, ValueState}

/** The track operator on Spark 4's transformWithState — the successor API
  * to flatMapGroupsWithState (typed state handles, RocksDB-backed,
  * per-state TTL). Same semantics as TrackStateOp (both delegate to
  * TrackStateOp.foldGroup), so TwsSpec can assert the two engines agree —
  * and at 100 TB this is the API to prefer: state lives in named
  * column-family handles inside RocksDB rather than one opaque value,
  * so buffers, timers, and TTLs scale independently.
  *
  * transformWithState REQUIRES the RocksDB state-store provider
  * (TrackStateOp.rocksdbConf). `runToMemory` picks it on the stream's own
  * session clone when the plan holds a transformWithState node; a caller
  * starting the stream itself sets it on that stream's session.
  */
class TrackProcessor(cap: Int) extends StatefulProcessor[Long, EventRaw, SnapRow] {
  @transient private var track: ValueState[TrackState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    track = getHandle.getValueState[TrackState](
      "track", Encoders.product[TrackState], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[EventRaw],
                               timerValues: TimerValues): Iterator[SnapRow] = {
    val prev = if (track.exists()) Some(track.get()) else None
    val (next, out) = TrackStateOp.foldGroup(key, rows.toSeq, prev,
      hasTimedOut = false, cap)
    next match {
      case Some(s) => track.update(s)
      case None    => track.clear()
    }
    out.iterator
  }
}

object TrackStateTws {
  def trackSnapshots(events: Dataset[EventRaw],
                     cap: Int = TrackBuffer.DefaultCap): Dataset[SnapRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    graft.io.LocalFs.install(spark.sparkContext.hadoopConfiguration)
    events
      .groupByKey(_.user_id)
      .transformWithState(new TrackProcessor(cap), TimeMode.None(), OutputMode.Update())
  }
}
