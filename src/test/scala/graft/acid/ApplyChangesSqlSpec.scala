package graft.acid

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** `APPLY CHANGES INTO` — the SQL face of incremental mirror
  * maintenance (round 16, r15 directive #6): KEY alone maintains a
  * row-state mirror (applyChangesKeyed), KEY + SUM an aggregate mirror
  * (applyChangesAgg), TXN ... EPOCH makes replays no-ops, and the
  * FROM/TO bounds accept the table_changes dual version/timestamp
  * forms. */
class ApplyChangesSqlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val warehouse = graft.TempDirs.create("graft_applysql")
  private lazy val s2 = {
    val s = graft.GraftSession.withExtensions(spark)
    s.conf.set("spark.sql.catalog.gapply", "graft.acid.GraftCatalog")
    s.conf.set("spark.sql.catalog.gapply.root", warehouse)
    s
  }

  private def sourceTable(name: String): GraftTable = {
    val t = new GraftTable(spark, s"$warehouse/$name", statsCol = Some("k"))
    t.append(Seq((1L, "a", 10.0), (2L, "a", 20.0), (3L, "b", 30.0))
      .toDF("k", "g", "v"))                                      // v1
    t.merge(Seq((2L, "b", 25.0), (4L, "b", 40.0)).toDF("k", "g", "v"),
      Seq("k"), Seq(col("v").desc))                              // v2
    t.delete(col("k") === 1L)                                    // v3
    t
  }

  test("KEY alone maintains a row-state mirror through SQL") {
    val src = sourceTable("rowsrc")
    (1L to 3L).foreach { v =>
      s2.sql(s"APPLY CHANGES INTO gapply.rowmir FROM CHANGES " +
        s"gapply.rowsrc FROM ${v - 1} TO $v KEY (k)")
    }
    val mir = GraftTable.load(spark, s"$warehouse/rowmir")
    val got = mir.snapshot().orderBy("k").collect().toSeq
    val want = src.snapshot().orderBy("k").collect().toSeq
    assert(got == want, s"mirror $got must equal source state $want")
  }

  test("KEY + SUM maintains an aggregate mirror; TXN EPOCH replay is a no-op") {
    val src = sourceTable("aggsrc")
    def applyV(v: Long): Unit =
      s2.sql(s"APPLY CHANGES INTO gapply.aggmir FROM CHANGES " +
        s"gapply.aggsrc FROM ${v - 1} TO $v KEY (g) SUM (v) " +
        s"TXN 'w' EPOCH $v")
    (1L to 3L).foreach(applyV)
    applyV(2L) // replayed epoch: must not double-apply
    applyV(3L)
    val mir = GraftTable.load(spark, s"$warehouse/aggmir")
    val got = mir.snapshot().orderBy("g")
      .select(col("g"), col("n"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSeq
    // final state: k2=(b,25), k3=(b,30), k4=(b,40) — group a left
    assert(got == Seq(("b", 3L, 95.0)), got.toString)
  }

  test("timestamp bounds resolve through the monotone commit stamps") {
    val src = sourceTable("tssrc")
    val ts = src.history().map(c => c.version -> c.commitMs).toMap
    s2.sql(s"APPLY CHANGES INTO gapply.tsmir FROM CHANGES gapply.tssrc " +
      s"FROM '${ts(1L)}' TO '${ts(3L)}' KEY (k)")
    val mir = GraftTable.load(spark, s"$warehouse/tsmir")
    assert(mir.snapshot().orderBy("k").collect().toSeq ==
      src.snapshot().orderBy("k").collect().toSeq)
    // mixed bounds refuse loudly
    val err = intercept[Exception] {
      s2.sql(s"APPLY CHANGES INTO gapply.tsmir2 FROM CHANGES " +
        s"gapply.tssrc FROM 0 TO '${ts(3L)}' KEY (k)")
    }
    assert(err.getMessage.contains("both"), err.getMessage)
  }

  test("malformed tails fail loudly, non-graft targets fall through") {
    sourceTable("errsrc")
    assertThrows[org.apache.spark.sql.catalyst.parser.ParseException] {
      s2.sql("APPLY CHANGES INTO gapply.m FROM CHANGES gapply.errsrc " +
        "FROM 0 TO 1") // missing KEY
    }
    // a non-catalog mirror ref falls through to Spark's own parser error
    assertThrows[org.apache.spark.sql.catalyst.parser.ParseException] {
      s2.sql("APPLY CHANGES INTO nosuchcat.m FROM CHANGES x FROM 0 TO 1 KEY (k)")
    }
  }
}
