package graft.acid

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Timestamp faces of the CDC reads (round 16, r15 directive #5):
  * wall-clock windows resolve to version ranges through the in-commit
  * MONOTONE `ts=` stamps (max(now, parent+1)), so the mapping is exact
  * even when commits land in the same millisecond or a writer's clock
  * skews — timestamps are strictly increasing with version by
  * construction, never inverted or split. */
class CdcTimestampSpec extends SparkSpec {
  import spark.implicits._

  private def threeCommitTable(prefix: String): GraftTable = {
    val root = graft.TempDirs.create(prefix)
    val t = new GraftTable(spark, root, statsCol = Some("k"))
    // three rapid commits — same-millis bursts exercise the +1 clamp
    t.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))          // v1
    t.append(Seq((3L, 3.0)).toDF("k", "v"))                     // v2
    t.delete(col("k") === 1L)                                   // v3
    t
  }

  test("commit timestamps are strictly increasing under rapid commits") {
    val t = threeCommitTable("graft_cdcts_mono")
    val ts = t.history().map(_.commitMs)
    assert(ts == ts.sorted && ts.distinct.size == ts.size,
      s"monotone clamp must make stamps strictly increasing: $ts")
  }

  test("a wall-clock window selects exactly the version range its stamps bound") {
    val t = threeCommitTable("graft_cdcts_window")
    val h = t.history()
    val ts = h.map(c => c.version -> c.commitMs).toMap
    // [ts(v2), ts(v3)] -> (1, 3]: same rows as the version form
    val byTs = t.changeFeedByTimestamp(ts(2L), ts(3L))
      .orderBy("_commit_version", "k").collect().toSeq
    val byV = t.changeFeedByVersion(1L, 3L)
      .orderBy("_commit_version", "k").collect().toSeq
    assert(byTs == byV)
    // boundary inclusivity: fromTs one past v2's stamp excludes v2
    val only3 = t.changeFeedByTimestamp(ts(2L) + 1L, ts(3L))
      .select("_commit_version").distinct().as[Long].collect().toSeq
    assert(only3 == Seq(3L), s"(ts2, ts3] must select v3 only: $only3")
    // an between-commits window that selects nothing fails LOUDLY
    assertThrows[IllegalArgumentException] {
      t.changeFeedByTimestamp(ts(2L) + 1L, ts(3L) - 1L)
    }
    // the collapsed range form nets the same window
    val net = t.changeFeedAtTimestamps(ts(1L), ts(3L))
      .orderBy("_change", "k").collect().toSeq
    val netV = t.changeFeed(0L, 3L).orderBy("_change", "k").collect().toSeq
    assert(net == netV)
  }

  test("the table_changes TVFs accept string timestamp bounds") {
    val t = threeCommitTable("graft_cdcts_tvf")
    val ts = t.history().map(c => c.version -> c.commitMs).toMap
    val s2 = graft.GraftSession.withExtensions(spark)
    // epoch-millis string form, attributed TVF: (1, 3] as wall-clock
    val attributed = s2.sql(
      s"""SELECT _commit_version, k, _change
         |FROM table_changes_by_version('${t.root}', '${ts(2L)}', '${ts(3L)}')
         |ORDER BY _commit_version, k""".stripMargin).collect().toSeq
    val expected = s2.sql(
      s"""SELECT _commit_version, k, _change
         |FROM table_changes_by_version('${t.root}', 1, 3)
         |ORDER BY _commit_version, k""".stripMargin).collect().toSeq
    assert(attributed == expected)
    // net TVF with timestamps spans the full history
    val n = s2.sql(
      s"SELECT count(*) AS n FROM table_changes('${t.root}', " +
        s"'${ts(1L)}', '${ts(3L)}')").collect().head.getLong(0)
    assert(n == t.snapshot().count(), s"net feed over full history: $n")
    // mixed version/timestamp bounds refuse loudly
    val err = intercept[Exception] {
      s2.sql(s"SELECT * FROM table_changes('${t.root}', 1, '${ts(3L)}')")
        .collect()
    }
    assert(err.getMessage.contains("both"), err.getMessage)
  }

  test("DESCRIBE CHANGES accepts timestamp bounds (dual with versions)") {
    val wh = graft.TempDirs.create("graft_cdcts_wh")
    val s2 = graft.GraftSession.withExtensions(spark)
    s2.conf.set("spark.sql.catalog.gcdcts", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gcdcts.root", wh)
    val t = new GraftTable(spark, s"$wh/ev", statsCol = Some("k"))
    t.append(Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"))          // v1
    t.append(Seq((3L, 3.0)).toDF("k", "v"))                     // v2
    t.delete(col("k") === 1L)                                   // v3
    val ts = t.history().map(c => c.version -> c.commitMs).toMap
    val byTs = s2.sql(s"DESCRIBE CHANGES gcdcts.ev FROM '${ts(2L)}' " +
      s"TO '${ts(3L)}'").orderBy("_change", "k").collect().toSeq
    val byV = s2.sql("DESCRIBE CHANGES gcdcts.ev FROM 1 TO 3")
      .orderBy("_change", "k").collect().toSeq
    assert(byTs == byV, s"ts-bounded $byTs must equal version-bounded $byV")
    val err = intercept[Exception] {
      s2.sql(s"DESCRIBE CHANGES gcdcts.ev FROM 1 TO '${ts(3L)}'").collect()
    }
    assert(err.getMessage.contains("both"), err.getMessage)
  }

  test("parseTsMillis: epoch millis, SESSION-zone datetime, zoned literal") {
    assert(GraftTxnSql.parseTsMillis("1755350000123", "t", spark)
      == 1755350000123L)
    // a bare datetime parses in the SESSION timezone (UTC here), NOT the
    // JVM default — the timestampAsOf convention; a JVM-zone parse would
    // shift every wall-clock window by the zone offset (r16 review fix)
    assert(GraftTxnSql.parseTsMillis("2026-08-16 12:00:00", "t", spark) ==
      java.time.Instant.parse("2026-08-16T12:00:00Z").toEpochMilli)
    // a zone-suffixed literal carries its own zone
    assert(GraftTxnSql.parseTsMillis("2026-08-16T12:00:00+02:00", "t", spark) ==
      java.time.Instant.parse("2026-08-16T10:00:00Z").toEpochMilli)
    assertThrows[IllegalArgumentException] {
      GraftTxnSql.parseTsMillis("not-a-time", "t", spark)
    }
  }
}
