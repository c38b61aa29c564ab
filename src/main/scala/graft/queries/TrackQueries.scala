package graft.queries

import graft.{QueryPack, Tables}
import graft.tracks.{BoundedTrackAgg, EventRaw, TrackStateOp}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The reference's track-state semantics (SURVEY.md §2 K1-K6, W3-W4,
  * A1-A3) as driver-verifiable queries. Three independent implementations
  * of "bounded sorted dedup track, cap 10" — a real Structured Streaming
  * stateful query, a typed Aggregator UDAF (+ custom generator), and a
  * ranking-window batch analogue — all hash-matching the same DuckDB
  * oracle (`row_number() <= 10` per key).
  */
object TrackQueries extends QueryPack {

  /** Shared oracle: track semantics == newest 10 distinct-ts events per
    * key. (user_id, ts) is unique in testdata, so dedup is a no-op here;
    * collision behavior is covered by TrackBufferSpec instead. */
  private val trackOracle =
    """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value FROM (
      |  SELECT *, row_number() OVER (PARTITION BY user_id
      |                               ORDER BY ts DESC, event_id) AS rn
      |  FROM events) t
      |WHERE rn <= 10
      |ORDER BY user_id, ts""".stripMargin

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- the real thing: stateful Structured Streaming (K1-K6 + K3) ----
    "q_stream_track_snapshot" -> { (s, d) =>
      val snaps = TrackStateOp.trackSnapshots(TrackStateOp.eventsStream(s, d))
      TrackStateOp.latestSnapshot(runToMemory(snaps.toDF(), "update"))
        .orderBy(col("user_id"), col("ts"))
    },

    // ---- same pipeline on Spark 4's transformWithState (RocksDB state) ----
    // (runToMemory starts it on RocksDB: transformWithState needs it)
    "q_stream_track_tws" -> { (s, d) =>
      val snaps = graft.tracks.TrackStateTws.trackSnapshots(TrackStateOp.eventsStream(s, d))
      TrackStateOp.latestSnapshot(runToMemory(snaps.toDF(), "update"))
        .orderBy(col("user_id"), col("ts"))
    },

    // ---- same semantics as a typed Aggregator UDAF + custom generator ----
    "q_track_udaf" -> { (s, d) =>
      import s.implicits._
      val ev: org.apache.spark.sql.Dataset[EventRaw] = Tables.events(s, d)
        .select(
          $"event_id",
          unix_micros($"ts").as("tsMicros"),
          $"user_id",
          $"event_type".as("eventType"),
          $"value")
        .as[EventRaw]
      val tracks = ev.groupByKey(_.user_id)
        .agg(BoundedTrackAgg().toColumn.name("track"))
        .toDF("user_id", "track")
      graft.functions.register(s)
      tracks.select($"user_id", expr("explode_track(track)"))
        .select(
          $"user_id",
          timestamp_micros($"tsMicros").as("ts"),
          $"eventId".as("event_id"),
          $"eventType".as("event_type"),
          $"value")
        .orderBy($"user_id", $"ts")
    },

    // ---- batch analogue: ranking window (K6 batch form) ----
    "q_track_topk" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id")
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 10)
        .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
        .orderBy($"user_id", $"ts")
    },

    // ---- A1: per-key track size (count bounded by cap) ----
    "q_track_count" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(least(count(lit(1)), lit(10L)).as("track_size"))
        .orderBy($"user_id")
    },

    // ---- W3/W4: previous/next n with the all-or-nothing guard ----
    "q_track_prev_next" -> { (s, d) =>
      import s.implicits._
      val n = 3
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val nPrev = count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding, -1))
      val nNext = count(lit(1)).over(w.rowsBetween(1, Window.unboundedFollowing))
      def guardedLag(k: Int)  = when(nPrev >= n, lag($"value", k).over(w))
      def guardedLead(k: Int) = when(nNext >= n, lead($"value", k).over(w))
      Tables.events(s, d)
        .select($"user_id", $"event_id", $"ts", $"value")
        .select(
          $"event_id",
          guardedLag(1).as("prev1"), guardedLag(2).as("prev2"), guardedLag(3).as("prev3"),
          guardedLead(1).as("next1"), guardedLead(2).as("next2"), guardedLead(3).as("next3"))
        .orderBy($"event_id")
    }
  )

  override def oracles: Map[String, String] = Map(
    "q_stream_track_snapshot" -> trackOracle,
    "q_stream_track_tws" -> trackOracle,
    "q_track_udaf" -> trackOracle,
    "q_track_topk" -> trackOracle,
    "q_track_count" ->
      """SELECT user_id, least(count(*), 10) AS track_size
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_track_prev_next" ->
      """SELECT event_id,
        |  CASE WHEN count(*) OVER wp >= 3 THEN lag(value, 1) OVER w END AS prev1,
        |  CASE WHEN count(*) OVER wp >= 3 THEN lag(value, 2) OVER w END AS prev2,
        |  CASE WHEN count(*) OVER wp >= 3 THEN lag(value, 3) OVER w END AS prev3,
        |  CASE WHEN count(*) OVER wn >= 3 THEN lead(value, 1) OVER w END AS next1,
        |  CASE WHEN count(*) OVER wn >= 3 THEN lead(value, 2) OVER w END AS next2,
        |  CASE WHEN count(*) OVER wn >= 3 THEN lead(value, 3) OVER w END AS next3
        |FROM events
        |WINDOW w  AS (PARTITION BY user_id ORDER BY ts, event_id),
        |       wp AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |       wn AS (PARTITION BY user_id ORDER BY ts, event_id
        |              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin
  )
}
