package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Multi-batch ListState semantics the oracle's single-batch replay
  * can't exercise: appends must accumulate across micro-batches, the
  * newest-cap answer must be batch-split-independent, and the slack
  * compaction (stored list > 2*cap -> one rewrite to cap) must not
  * change the answer when later batches keep appending after it. */
class ListStateSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, ts: Long, user: Long = 1): RecentEv =
    RecentEv(user, ts, id, s"t$id")

  private def run(cap: Int)(batches: Seq[RecentEv]*): Map[Long, Seq[(Long, Long)]] = {
    val input = MemoryStream[RecentEv](rocksSpark)
    val qn = "ls" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = RecentEventsList.recent(input.toDS(), cap).toDF()
      .writeStream.format("memory").queryName(qn)
      .outputMode("update").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      val rows = rocksSpark.table(qn)
        .as[RecentRow].collect().toSeq
      // each key's answer = its max-seen emission, newest first
      rows.groupBy(_.user_id).map { case (u, rs) =>
        val mx = rs.map(_.seen).max
        u -> rs.filter(_.seen == mx).map(r => (r.tsUs, r.event_id))
          .sortBy { case (ts, id) => (-ts, -id) }
      }
    } finally q.stop()
  }

  test("appends accumulate across batches and evict the oldest past cap") {
    val out = run(3)(
      Seq(ev(1, 10), ev(2, 20)),            // batch 1: under cap
      Seq(ev(3, 30), ev(4, 40)),            // batch 2: 4 events, cap 3
      Seq(ev(5, 5)))                        // batch 3: older than all kept
    assert(out(1L) == Seq((40L, 4L), (30L, 3L), (20L, 2L)),
      s"oldest must evict, late-arriving stale event must not enter: $out")
  }

  test("slack compaction (>2*cap stored) keeps the newest-cap answer") {
    // 13 events for one key across 3 batches forces the put() rewrite
    // (stored 2*cap=6 exceeded twice) with appends continuing after
    val out = run(3)(
      (1L to 5L).map(i => ev(i, i * 10)),
      (6L to 10L).map(i => ev(i, i * 10)),
      (11L to 13L).map(i => ev(i, i * 10)))
    assert(out(1L) == Seq((130L, 13L), (120L, 12L), (110L, 11L)))
  }

  test("batch split does not change the answer") {
    val evs = (1L to 9L).map(i => ev(i, (i * 7) % 10 * 100 + i))
    val oneShot = run(4)(evs)
    val split = run(4)(evs.take(2), evs.slice(2, 3), evs.drop(3))
    assert(oneShot == split)
  }

  test("keys are independent") {
    val out = run(2)(
      Seq(ev(1, 10, user = 1), ev(2, 20, user = 2)),
      Seq(ev(3, 30, user = 1), ev(4, 40, user = 1)))
    assert(out(1L) == Seq((40L, 4L), (30L, 3L)))
    assert(out(2L) == Seq((20L, 2L)))
  }
}
