package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** StatefulProcessorWithInitialState semantics: the snapshot must seed
  * state BEFORE the first batch, must surface in the answer (events
  * that only exist in the snapshot stay in the buffer), and a key
  * absent from the snapshot must behave exactly like a cold start. */
class WarmStartSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, ts: Long, user: Long = 1): RecentEv =
    RecentEv(user, ts, id, s"t$id")

  private def run(cap: Int, init: Seq[RecentSnapshot])(
      batches: Seq[RecentEv]*): Map[Long, Seq[(Long, Long)]] = {
    val input = MemoryStream[RecentEv](rocksSpark)
    val qn = "ws" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = RecentEventsList.warmStart(input.toDS(), rocksSpark.createDataset(init), cap)
      .toDF().writeStream.format("memory").queryName(qn)
      .outputMode("update").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      val rows = rocksSpark.table(qn).as[RecentRow].collect().toSeq
      rows.groupBy(_.user_id).map { case (u, rs) =>
        val mx = rs.map(_.seen).max
        u -> rs.filter(_.seen == mx).map(r => (r.tsUs, r.event_id))
          .sortBy { case (ts, id) => (-ts, -id) }
      }
    } finally q.stop()
  }

  test("snapshot events newer than every stream event dominate the answer") {
    // snapshot holds the two NEWEST events; the stream only backfills
    // older ones — dropping the initial state would change the answer
    val init = Seq(RecentSnapshot(1L, List(ev(10, 100), ev(11, 110))))
    val out = run(3, init)(Seq(ev(1, 10), ev(2, 20)), Seq(ev(3, 30)))
    assert(out(1L) == Seq((110L, 11L), (100L, 10L), (30L, 3L)),
      s"snapshot rows must persist in the buffer: $out")
  }

  test("snapshot wider than cap is trimmed to the newest cap on seed") {
    val init = Seq(RecentSnapshot(1L,
      (1L to 6L).map(i => ev(100 + i, i * 10)).toList))
    val out = run(2, init)(Seq(ev(1, 1)))
    assert(out(1L) == Seq((60L, 106L), (50L, 105L)))
  }

  test("keys absent from the snapshot cold-start normally") {
    val init = Seq(RecentSnapshot(1L, List(ev(10, 100))))
    val out = run(2, init)(
      Seq(ev(1, 10), ev(2, 20, user = 2), ev(3, 30, user = 2)))
    assert(out(1L) == Seq((100L, 10L), (10L, 1L)))
    assert(out(2L) == Seq((30L, 3L), (20L, 2L)))
  }
}
