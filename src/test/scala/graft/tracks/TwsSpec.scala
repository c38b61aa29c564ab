package graft.tracks

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** transformWithState (Spark 4 arbitrary-state API, RocksDB-backed) must
  * produce exactly the flatMapGroupsWithState operator's semantics — both
  * delegate to TrackStateOp.foldGroup. */
class TwsSpec extends SparkSpec {
  import spark.implicits._

  test("transformWithState track == flatMapGroupsWithState track") {
    val input = MemoryStream[EventRaw](rocksSpark)
    val snaps = TrackStateTws.trackSnapshots(input.toDS())
    val qn = "tws" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = snaps.writeStream.format("memory").queryName(qn).outputMode("update").start()
    try {
      // same shape as the fMGWS tests: growth, dedup, eviction
      input.addData((1L to 7L).map(t => EventRaw(t, t, 1L, "click", t.toDouble)))
      q.processAllAvailable()
      input.addData((8L to 14L).map(t => EventRaw(t, t, 1L, "click", t.toDouble)))
      input.addData(Seq(EventRaw(99, 10, 1L, "click", 0.0))) // dup ts=10 -> refused
      q.processAllAvailable()
      val latest = TrackStateOp.latestSnapshot(rocksSpark.table(qn))
        .selectExpr("unix_micros(ts) as t", "event_id")
        .as[(Long, Long)].collect().sortBy(_._1)
      assert(latest.map(_._1).toSeq == (5L to 14L), s"got ${latest.toSeq}")
      assert(latest.find(_._1 == 10L).get._2 == 10L) // first arrival kept
    } finally q.stop()
  }
}
