package graft.queries

import graft.{QueryPack, Tables}
import graft.tracks.TrackStateOp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Event-time windowing the reference lacks entirely (SURVEY.md §2.4
  * ABSENT→ENGINE row): tumbling / sliding / session windows, plus real
  * Structured Streaming runs with watermarks (tumbling agg, streaming
  * dedup). Batch and streaming share the same `window()`/`session_window()`
  * expressions — Catalyst plans both, which is the point of building on
  * Spark rather than a bespoke engine.
  *
  * Oracle notes: Spark windows align to the epoch (UTC); oracles mirror
  * that with `epoch_us // width * width` bucket arithmetic, so alignment
  * is explicit rather than relying on DuckDB time_bucket origin defaults.
  */
object TimeWindowQueries extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- tumbling window, batch ----
    "q_window_tumble" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy(window($"ts", "1 day"), $"event_type")
        .agg(count(lit(1)).as("n"),
             asDouble(sum(dec($"value"))).as("sum_value"))
        .select($"window.start".as("day"), $"event_type", $"n", $"sum_value")
        .orderBy($"day", $"event_type")
    },

    // ---- sliding window (1 day, 12 h slide), batch ----
    "q_window_slide" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy(window($"ts", "1 day", "12 hours"), $"event_type")
        .agg(count(lit(1)).as("n"),
             asDouble(sum(dec($"value"))).as("sum_value"))
        .select($"window.start".as("wstart"), $"event_type", $"n", $"sum_value")
        .orderBy($"wstart", $"event_type")
    },

    // ---- session window (30 min gap) per user, batch ----
    "q_session_window" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"),
             asDouble(sum(dec($"value"))).as("sum_value"))
        .select($"user_id", $"session_window.start".as("session_start"),
                $"n_events", $"sum_value")
        .orderBy($"user_id", $"session_start")
    },

    // ---- REAL streaming tumbling agg with watermark (Complete mode) ----
    "q_stream_tumble" -> { (s, d) =>
      import s.implicits._
      val ev = TrackStateOp.eventsStream(s, d)
        .withColumn("ts", timestamp_micros($"tsMicros"))
      val agg = ev
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 day"), $"eventType")
        .agg(count(lit(1)).as("n"))
      runToMemory(agg, "complete")
        .select($"window.start".as("day"), $"eventType".as("event_type"), $"n")
        .orderBy($"day", $"event_type")
    },

    // ---- streaming trending top-k (windowed counts -> rank per window) ----
    // The live-dashboard op: per tumbling window, the top-3 event types
    // by count. The STREAMING stage is the watermarked windowed
    // aggregation (state = one counter per (window, type), complete
    // mode); the rank is a view over the drained state — ranking is not
    // an incremental operator, so production serves it off the state
    // snapshot exactly like this, not inside the stream.
    "q_stream_trending" -> { (s, d) =>
      import s.implicits._
      val ev = TrackStateOp.eventsStream(s, d)
        .withColumn("ts", timestamp_micros($"tsMicros"))
      val agg = ev
        .withWatermark("ts", "1 hour")
        .groupBy(window($"ts", "1 day"), $"eventType")
        .agg(count(lit(1)).as("n"))
      runToMemory(agg, "complete")
        .select($"window.start".as("day"), $"eventType".as("event_type"), $"n")
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy($"day")
            .orderBy($"n".desc, $"event_type")))
        .filter($"rk" <= 3)
        .select($"day", asLong($"rk").as("rk"), $"event_type", $"n")
        .orderBy($"day", $"rk")
    },

    // ---- REAL streaming session windows (state merges adjacent
    // sessions as events arrive; Complete mode keeps every session) ----
    "q_stream_session" -> { (s, d) =>
      import s.implicits._
      val ev = TrackStateOp.eventsStream(s, d)
        .withColumn("ts", timestamp_micros($"tsMicros"))
      val agg = ev
        .withWatermark("ts", "1 hour")
        .groupBy(session_window($"ts", "30 minutes"), $"user_id")
        .agg(count(lit(1)).as("n_events"),
             asDouble(sum(dec($"value"))).as("sum_value"))
      runToMemory(agg, "complete")
        .select($"user_id", $"session_window.start".as("session_start"),
                $"n_events", $"sum_value")
        .orderBy($"user_id", $"session_start")
    },

    // ---- per-key MAP STATE counters (transformWithState MapState) ----
    // One RocksDB entry per (user, event_type): a point write per
    // counter bump instead of rewriting a per-user blob (see
    // MapStateCounts). Running counts are monotone, so max() per
    // (user, type) over the update-mode emissions is batch-split-proof
    // and equals the plain batch groupBy — the oracle.
    "q_stream_map_state" -> { (s, d) =>
      import s.implicits._
      val ev = TrackStateOp.eventsStream(s, d)
        .select($"user_id", $"eventType".as("event_type"))
        .as[graft.streaming.TypeEv]
      val out = graft.streaming.MapStateCounts.typeCounts(ev)
      runToMemory(out.toDF(), "update")
        .groupBy($"user_id", $"event_type")
        .agg(asLong(max($"n")).as("n"))
        .orderBy($"user_id", $"event_type")
    },

    // ---- per-key LIST STATE rolling buffer (transformWithState) ----
    // The third state-handle type (see RecentEventsList): last-10
    // events per user kept as RocksDB point APPENDS with 2x slack, one
    // compacting rewrite per 10 appends instead of a blob rewrite per
    // event. Emissions carry a monotone per-key `seen`; the newest-10
    // set depends only on which events arrived, so each key's max-seen
    // emission equals the batch top-10 window query — the oracle.
    "q_stream_list_state" -> { (s, d) =>
      import s.implicits._
      val ev = TrackStateOp.eventsStream(s, d)
        .select($"user_id", $"tsMicros".as("tsUs"), $"event_id",
          $"eventType".as("event_type"))
        .as[graft.streaming.RecentEv]
      val out = graft.streaming.RecentEventsList.recent(ev)
      val snap = runToMemory(out.toDF(), "update")
      snap
        .withColumn("mx", max($"seen").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"user_id")))
        .filter($"seen" === $"mx")
        .select($"user_id", timestamp_micros($"tsUs").as("ts"),
          $"event_id", $"event_type")
        .orderBy($"user_id", $"ts".desc, $"event_id".desc)
    },

    // ---- WARM START: initial state bootstrap (transformWithState) ----
    // The state-bootstrap facet (StatefulProcessorWithInitialState): at
    // 100 TB state is NOT rebuilt by replaying history — a snapshot
    // table seeds every key's RocksDB entries on the first batch, then
    // the stream folds deltas. Staged so the seeded state MUST surface:
    // each user's newest half becomes the snapshot, the oldest half
    // replays as an out-of-order backfill stream (>=1 stream event per
    // user, so every key emits; event-time ordering absorbs the
    // inversion). Dropping the initial state would change the answer.
    // Oracle: the same batch top-10 window query over ALL events.
    "q_stream_warm_start" -> { (s, d) =>
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val ranked = Tables.events(s, d)
        .select($"user_id", unix_micros($"ts").as("tsUs"),
          $"event_id", $"event_type", $"ts")
        .withColumn("rk", row_number().over(w))
        .withColumn("half", (count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"user_id"))
          / 2).cast("int"))
      // snapshot: each user's newest floor(n/2) events, pre-trimmed to
      // the buffer cap (a snapshot holds at most cap rows per key)
      val snap = ranked.filter($"rk" <= least($"half", lit(10)))
        .groupBy($"user_id")
        .agg(collect_list(struct($"user_id", $"tsUs", $"event_id",
          $"event_type")).as("events"))
        .as[graft.streaming.RecentSnapshot]
      // backfill stream: everything NOT in the snapshot half, admitted
      // via a stream-static anti join on event_id
      val initIds = ranked.filter($"rk" <= $"half").select($"event_id")
      val streamEv = TrackStateOp.eventsStream(s, d)
        .select($"user_id", $"tsMicros".as("tsUs"), $"event_id",
          $"eventType".as("event_type"))
        .join(initIds, Seq("event_id"), "left_anti")
        .as[graft.streaming.RecentEv]
      val out = graft.streaming.RecentEventsList.warmStart(streamEv, snap)
      val sink = runToMemory(out.toDF(), "update")
      sink
        .withColumn("mx", max($"seen").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"user_id")))
        .filter($"seen" === $"mx")
        .select($"user_id", timestamp_micros($"tsUs").as("ts"),
          $"event_id", $"event_type")
        .orderBy($"user_id", $"ts".desc, $"event_id".desc)
    },

    // ---- gap sessions via transformWithState EVENT-TIME TIMERS ----
    // The timer facet of the Spark-4 stateful API (see SessionTimers):
    // in-batch-closed sessions emit from handleInputRows; each key's
    // open tail parks in RocksDB state with a timer at end + gap and
    // flushes from handleExpiredTimer when the watermark passes it.
    // Tails the final watermark never reaches stay open (real streaming
    // semantics) — the oracle replays the same gap rule AND the same
    // ms-truncated timer-vs-watermark comparison.
    "q_stream_session_timers" -> { (s, d) =>
      import s.implicits._
      val ev = TrackStateOp.eventsStream(s, d)
        .select($"user_id", $"tsMicros".as("tsUs"),
          ($"value".cast("decimal(12,2)") * 100).cast("long").as("cents"),
          $"event_id",
          timestamp_micros($"tsMicros").as("ts"))
        .withWatermark("ts", "10 minutes")
        .as[graft.streaming.SEv]
      val sessions = graft.streaming.SessionTimers.sessions(ev, 3600000000L)
      runToMemory(sessions.toDF(), "append")
        .select($"user_id",
          timestamp_micros($"session_start_us").as("session_start"),
          timestamp_micros($"session_end_us").as("session_end"),
          $"n_events", ($"sum_cents" / lit(100.0)).as("sum_value"))
        .orderBy($"user_id", $"session_start")
    },

    // ---- REAL streaming dedup with watermark ----
    "q_stream_dedup" -> { (s, d) =>
      import s.implicits._
      val ev = TrackStateOp.eventsStream(s, d)
        .withColumn("ts", timestamp_micros($"tsMicros"))
      val deduped = ev
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n_unique"))
      runToMemory(deduped, "complete")
        .orderBy($"user_id")
    },

    // ---- resample to an hourly grid with forward fill ----
    // The feature-store/time-series "as-of state at regular ticks" op:
    // per user, an hourly grid spanning their event range, each tick
    // carrying the last observed value at or before it. Grid rows union
    // with events and ONE ignore-nulls running window fills forward —
    // no per-tick as-of join. Grid ticks sort AFTER events at the same
    // timestamp (is_grid, then event_id for duplicate event times), so
    // a tick on an exact event time picks that event up. Ticks before a
    // user's first observation stay NULL (honest resample semantics).
    // Scale: one shuffle on user_id for the window; grid size is
    // span-hours x users, independent of event density.
    "q_resample_ffill" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, d)
        .select($"user_id", $"ts", $"value", $"event_id")
      val grid = ev.groupBy($"user_id")
        .agg(date_trunc("hour", min($"ts")).as("t0"),
             date_trunc("hour", max($"ts")).as("t1"))
        .select($"user_id",
          explode(sequence($"t0", $"t1", expr("INTERVAL 1 HOUR"))).as("ts"))
      val unioned = ev
        .select($"user_id", $"ts", lit(0).as("is_grid"), $"event_id", $"value")
        .unionByName(grid.select($"user_id", $"ts", lit(1).as("is_grid"),
          lit(Long.MaxValue).as("event_id"), lit(null).cast("double").as("value")))
      val w = Window.partitionBy($"user_id")
        .orderBy($"ts", $"is_grid", $"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      unioned
        .withColumn("filled", last($"value", ignoreNulls = true).over(w))
        .filter($"is_grid" === 1)
        .select($"user_id", $"ts".as("grid_ts"), $"filled")
        .orderBy($"user_id", $"grid_ts")
    },

    // ---- exponentially-weighted moving average (integer fixed-point) ----
    // The classic sequential time-series smoother, made ENGINE-EXACT the
    // PageRank way: values scale to 1e3 fixed-point integers and alpha is
    // pinned at 1/2 — the dyadic choice makes each step s = (v + s_prev)
    // DIV 2 pure integer arithmetic, so the fold is bit-identical across
    // engines (nonneg values; both engines' integer division agree) and
    // a DuckDB RECURSIVE CTE can replay every step. The fold itself runs
    // as one sorted pass per key (flatMapSortedGroups: secondary sort,
    // O(1) state, one task per user — the sessionized-fold shape that
    // holds at any event density; keys are the parallelism unit).
    // Floating alpha would make this a narrow window computation but
    // sacrifice cross-engine exactness — fixed-point is the honest gate.
    "q_ts_ewma" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
          floor($"value" * 1000).cast("long").as("v"))
        .as[EwmaIn]
        .groupByKey(_.user_id)
        .flatMapSortedGroups($"ts_us", $"event_id") { (uid: Long, rows: Iterator[EwmaIn]) =>
          var state = Long.MinValue
          rows.map { r =>
            state = if (state == Long.MinValue) r.v else (r.v + state) / 2
            (r.event_id, uid, r.v, state)
          }
        }
        .toDF("event_id", "user_id", "v", "ewma")
        .orderBy($"event_id")
    }
  )

  override def oracles: Map[String, String] = Map(
    "q_window_tumble" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,

    // every event belongs to exactly two 24h/12h-slide windows:
    // bucket12(ts) and bucket12(ts) - 12h
    "q_window_slide" ->
      """SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 43200000000) * 43200000000 - o.off) AS wstart,
        |       event_type, count(*) AS n,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events, (VALUES (CAST(0 AS BIGINT)), (CAST(43200000000 AS BIGINT))) AS o(off)
        |GROUP BY 1, 2
        |ORDER BY wstart, event_type""".stripMargin,

    // gaps-and-islands: new session when gap >= 30 min (Spark's session
    // window [start, last+gap) excludes an event at exactly last+gap)
    "q_session_window" ->
      """WITH x AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM y
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_stream_tumble" ->
      """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |       event_type, count(*) AS n
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY day, event_type""".stripMargin,

    "q_stream_dedup" ->
      """SELECT user_id, count(DISTINCT event_id) AS n_unique
        |FROM events
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_stream_trending" ->
      """WITH c AS (
        |  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS day,
        |         event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2)
        |SELECT day, rk, event_type, n FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY day
        |              ORDER BY n DESC, event_type) AS BIGINT) AS rk
        |  FROM c) t
        |WHERE rk <= 3
        |ORDER BY day, rk""".stripMargin,

    // bounded input -> streaming session windows coincide with the batch
    // gaps-and-islands form (same oracle as q_session_window)
    "q_stream_session" ->
      """WITH x AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |       count(*) AS n_events,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM y
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_stream_map_state" ->
      """SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
        |FROM events
        |GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q_stream_list_state" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |FROM (SELECT user_id, ts, event_id, event_type,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts DESC, event_id DESC) AS rk
        |      FROM events)
        |WHERE rk <= 10
        |ORDER BY user_id, ts DESC, event_id DESC""".stripMargin,

    // warm start must reconstruct the SAME answer as the cold run: the
    // snapshot/backfill split is internal staging, not semantics
    "q_stream_warm_start" ->
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |FROM (SELECT user_id, ts, event_id, event_type,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY ts DESC, event_id DESC) AS rk
        |      FROM events)
        |WHERE rk <= 10
        |ORDER BY user_id, ts DESC, event_id DESC""".stripMargin,

    // same gap rule in exact micros, then the timer-flush filter: a
    // session emits iff a later same-key event closed it in-batch (it
    // is not the key's last session) OR its end+gap timer (ms-truncated
    // like Spark's timer clock) is <= the final watermark. All four
    // plausible truncation/strictness variants of the boundary coincide
    // on this data (verified exhaustively) — ties sit on a microsecond
    // boundary that is measure-zero for real timestamps.
    "q_stream_session_timers" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, value,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 3600000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |y AS (
        |  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |s0 AS (
        |  SELECT user_id, sid, min(us) AS s_us, max(us) AS e_us,
        |         CAST(count(*) AS BIGINT) AS n_events,
        |         CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT))
        |              AS BIGINT) AS sum_cents
        |  FROM y GROUP BY user_id, sid),
        |sess AS (
        |  SELECT *, max(sid) OVER (PARTITION BY user_id) AS last_sid FROM s0),
        |mx AS (SELECT max(epoch_us(ts)) AS mxus FROM events)
        |SELECT user_id,
        |       CAST(make_timestamp(s_us) AS TIMESTAMP) AS session_start,
        |       CAST(make_timestamp(e_us) AS TIMESTAMP) AS session_end,
        |       n_events, sum_cents / 100.0 AS sum_value
        |FROM sess CROSS JOIN mx
        |WHERE sid < last_sid
        |   OR (e_us // 1000) + 3600000 <= (mxus // 1000) - 600000
        |ORDER BY user_id, session_start""".stripMargin,

    "q_resample_ffill" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id
        |  FROM events),
        |bounds AS (
        |  SELECT user_id,
        |         time_bucket(INTERVAL 1 HOUR, min(ts)) AS t0,
        |         time_bucket(INTERVAL 1 HOUR, max(ts)) AS t1
        |  FROM ev GROUP BY user_id),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
        |  FROM bounds),
        |u AS (
        |  SELECT user_id, ts, 0 AS is_grid, event_id, value FROM ev
        |  UNION ALL
        |  SELECT user_id, ts, 1, 9223372036854775807, NULL FROM grid),
        |f AS (
        |  SELECT user_id, ts, is_grid,
        |         last_value(value IGNORE NULLS) OVER (
        |           PARTITION BY user_id ORDER BY ts, is_grid, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |  FROM u)
        |SELECT user_id, ts AS grid_ts, filled
        |FROM f WHERE is_grid = 1
        |ORDER BY user_id, grid_ts""".stripMargin,

    // the integer fold replayed step by step: a recursive CTE walks each
    // user's row_number chain; // is floor division, == the Spark side's
    // Long division on the NONNEGATIVE fixed-point values here
    "q_ts_ewma" ->
      """WITH RECURSIVE seq AS (
        |  SELECT user_id, event_id, CAST(floor(value * 1000) AS BIGINT) AS v,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS i
        |  FROM events),
        |rec AS (
        |  SELECT user_id, event_id, i, v, v AS ewma FROM seq WHERE i = 1
        |  UNION ALL
        |  SELECT s.user_id, s.event_id, s.i, s.v, (s.v + r.ewma) // 2
        |  FROM seq s JOIN rec r ON s.user_id = r.user_id AND s.i = r.i + 1)
        |SELECT event_id, user_id, v, ewma FROM rec
        |ORDER BY event_id""".stripMargin
  )
}

/** Input row for the q_ts_ewma sorted fold (flat encoder — no object
  * graphs in the group iterator). */
case class EwmaIn(user_id: Long, event_id: Long, ts_us: Long, v: Long)
