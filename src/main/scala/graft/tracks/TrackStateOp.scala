package graft.tracks

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Raw event as read from the stream: ts in epoch micros (flat long). */
case class EventRaw(event_id: Long, tsMicros: Long, user_id: Long,
                    eventType: String, value: Double)

/** Per-key state: the bounded sorted dedup track + a monotone version so
  * downstream consumers can pick each key's latest snapshot even when the
  * sink accumulated several batches' emissions. */
case class TrackState(ver: Long, events: List[TrackEv])

/** One emitted snapshot row (track exploded, one row per buffered event). */
case class SnapRow(user_id: Long, tsMicros: Long, event_id: Long,
                   event_type: String, value: Double, ver: Long)

/** The reference's stateful core (SURVEY.md §2 K1-K6) on Structured
  * Streaming: `groupByKey(trackId).flatMapGroupsWithState` holding a
  * bounded, chronologically sorted, ts-deduplicated buffer per key, and
  * emitting the full updated track each micro-batch (the reference's
  * `stateSnapshots()` for keys with new data; reference
  * StatefulStreamingWithMultipleStates.scala:42-55).
  *
  * Scale stance: state is a flat Vector of <= cap primitive-ish rows per
  * key (no object graphs), keyed state partitions by hash(user_id) across
  * the cluster, and the RocksDB state-store provider (`rocksdbConf`) keeps
  * large key spaces off-heap — the 100 TB design the reference's
  * Java-serialized DStream checkpoints could not reach (its
  * README-documented restart crash is inverted in TrackStreamingSpec
  * "restart with two stateful queries survives").
  *
  * NoTimeout mirrors the reference (its "30 minute" comment was never
  * implemented — K4); pass `ttl` to enable event-time-ish expiry for
  * unbounded key spaces.
  */
object TrackStateOp {

  val rocksdbConf: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Pure per-group fold, extracted so both the streaming closure and unit
    * tests share it: returns (newState — None means remove, emissions). */
  def foldGroup(key: Long, events: Seq[EventRaw], prev: Option[TrackState],
                hasTimedOut: Boolean, cap: Int): (Option[TrackState], Seq[SnapRow]) =
    if (hasTimedOut) (None, Nil) // TTL: drop the idle key's state
    else {
      val p = prev.getOrElse(TrackState(0L, Nil))
      var buf = p.events.toVector
      // Fold in event-time order within the batch so arrival-order
      // ts-collision resolution is deterministic per batch.
      events.sortBy(e => (e.tsMicros, e.event_id)).foreach { e =>
        buf = TrackBuffer.add(buf, TrackEv(e.tsMicros, e.event_id, e.eventType, e.value), cap)
      }
      val ver = p.ver + 1
      (Some(TrackState(ver, buf.toList)),
        buf.map(t => SnapRow(key, t.tsMicros, t.eventId, t.eventType, t.value, ver)))
    }

  /** NOTE on `ttl`: processing-time TTL is for continuously-running
    * deployments (the 100 TB case — unbounded key spaces need expiry). A
    * drain-style harness (AvailableNow / processAllAvailable) never
    * quiesces while a timer is armed — the engine keeps scheduling
    * batches to fire it — so batch-drain tests must use ttl=None; the
    * timeout branch itself is unit-tested through foldGroup. */
  def trackSnapshots(events: Dataset[EventRaw], cap: Int = TrackBuffer.DefaultCap,
                     ttl: Option[String] = None): Dataset[SnapRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    graft.io.LocalFs.install(spark.sparkContext.hadoopConfiguration)

    val timeout =
      if (ttl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TrackState, SnapRow](OutputMode.Update, timeout) {
        (key: Long, it: Iterator[EventRaw], state: GroupState[TrackState]) =>
          foldGroup(key, it.toSeq, state.getOption, state.hasTimedOut, cap) match {
            case (None, out) =>
              state.remove()
              out.iterator
            case (Some(next), out) =>
              state.update(next)
              ttl.foreach(state.setTimeoutDuration)
              out.iterator
          }
      }
  }

  /** Keep only each key's newest snapshot from an accumulated sink table. */
  def latestSnapshot(sink: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    sink
      .withColumn("maxver", max(col("ver")).over(w))
      .filter(col("ver") === col("maxver"))
      .select(col("user_id"), timestamp_micros(col("tsMicros")).as("ts"),
              col("event_id"), col("event_type"), col("value"))
  }

  /** Streaming source over the testdata events parquet with the nanos->
    * micros normalization (same fix as graft.Tables, streaming side). */
  // schema cache: several streaming queries build this source per Verify/
  // Bench run; one footer read per dir is enough
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  def eventsStream(spark: SparkSession, dir: String): Dataset[EventRaw] = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    import spark.implicits._
    // Written to the caller's session on purpose, as in graft.Tables.table:
    // UTC and nanosAsLong are the oracle contract, whatever session the
    // caller built. UTC also makes the NTZ->instant reinterpretation below
    // exact.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val schema = schemaCache.computeIfAbsent(dir,
      d => spark.read.parquet(s"$d/events.parquet").schema)
    // The testdata generator has stored `ts` as either int64 nanos (read as
    // LongType under nanosAsLong) or TIMESTAMP(MICROS, isAdjustedToUTC=false)
    // (inferred as TIMESTAMP_NTZ). Dispatch on the footer schema so a fixture
    // regeneration can't break the streaming path (round-5 lesson).
    val tsMicros = schema("ts").dataType match {
      case LongType         => expr("ts div 1000")                    // nanos -> µs
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType)) // wall time IS the UTC instant
      case TimestampType    => unix_micros(col("ts"))
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other; expected int64 nanos or timestamp")
    }
    // The file stream source wants a directory: stream the sf dir but only
    // admit the events file.
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
      .select(
        col("event_id"),
        tsMicros.as("tsMicros"),
        col("user_id"),
        col("event_type").as("eventType"),
        col("value"))
      .as[EventRaw]
  }
}
