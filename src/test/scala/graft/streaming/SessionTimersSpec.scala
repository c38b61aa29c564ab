package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Multi-batch timer semantics the oracle's single-batch replay can't
  * exercise: the open-tail session must flush via handleExpiredTimer in
  * a LATER batch, exactly when the advancing watermark passes its
  * end + gap — and a pre-watermark continuation must extend the session
  * rather than fork a new one. */
class SessionTimersSpec extends SparkSpec {
  import spark.implicits._

  private val HOUR = 3600L * 1000000L // micros

  private def sev(id: Long, tsHours: Double, user: Long = 1,
                  cents: Long = 100): SEv =
    SEv(user, (tsHours * HOUR).toLong, cents, id,
      new java.sql.Timestamp((tsHours * 3600000L).toLong))

  test("open tail flushes on the event-time timer in a later batch") {
    val input = MemoryStream[SEv](rocksSpark)
    val sessions = SessionTimers.sessions(
      input.toDS()
        .withColumn("ts", timestamp_micros($"tsUs"))
        .withWatermark("ts", "10 minutes")
        .as[SEv],
      gapUs = 1L * HOUR)
    val qn = "st" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = sessions.toDF().writeStream.format("memory").queryName(qn)
      .outputMode("append").start()
    try {
      def rows() = rocksSpark.table(qn)
        .select($"user_id", $"session_start_us", $"session_end_us",
          $"n_events", $"sum_cents")
        .as[(Long, Long, Long, Long, Long)].collect().toSet

      // batch 1: two events 30 min apart -> ONE open session, no
      // output (timeline starts at 1.0h: a row AT the initial
      // watermark of 0 would be dropped as late)
      input.addData(sev(1, 1.0), sev(2, 1.5)); q.processAllAvailable()
      assert(rows().isEmpty, "open session must not emit early")

      // batch 2: same-key event 40 min later (< 1h gap), still within
      // watermark reach -> extends the session, still no output
      input.addData(sev(3, 2.1)); q.processAllAvailable()
      assert(rows().isEmpty, "pre-gap continuation must extend, not emit")

      // batch 3: another key far in the future advances the watermark
      // past 2.1h + 1h gap -> the timer fires and flushes key 1's
      // session as ONE merged emission (3 events, 1.0..2.1h)
      input.addData(sev(4, 10.0, user = 2)); q.processAllAvailable()
      val flushed = rows()
      assert(flushed == Set((1L, (1.0 * HOUR).toLong, (2.1 * HOUR).toLong, 3L, 300L)),
        s"expected the merged 3-event session, got $flushed")

      // batch 4: key 1 reappears AFTER its flushed session -> a fresh
      // session forms; key 2's tail advances the watermark and flushes
      input.addData(sev(5, 10.2), sev(6, 30.0, user = 2))
      q.processAllAvailable()
      assert(rows().contains((2L, (10.0 * HOUR).toLong,
        (10.0 * HOUR).toLong, 1L, 100L)), s"key 2 tail should flush: ${rows()}")
    } finally q.stop()
  }
}
