package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}

/** Gates never change the session they are handed: a gate that needs a
  * different conf or rule takes a clone. Each row runs one gate on a
  * caller session and requires the caller's conf and extra rules to read
  * the same before and after; a last test checks that `q_track_topk`
  * plans the same before and after `q_topk_rewrite` ran on the session.
  */
class SessionIsolationSpec extends SparkSpec {

  /** A private copy of the sf0.001 tables. Fixture builders are memoized
    * per JVM and sf dir, so a dir of its own makes every builder the
    * gates below call run inside this suite. */
  private lazy val sf: String = {
    val dir = TempDirs.create("graft_iso_sf")
    Files.list(Paths.get("/root/testdata/sf0.001")).forEach { p =>
      Files.copy(p, Paths.get(dir).resolve(p.getFileName),
        StandardCopyOption.REPLACE_EXISTING): Unit
    }
    dir
  }

  /** A fresh caller that already carries what gates may install on any
    * session they are handed: the oracle-contract confs (UTC,
    * nanosAsLong), the graft-scan rules and the TopKPerKey strategy. All
    * are idempotent, so each must leave the caller unchanged. The acid
    * knobs the fixtures turn on are preset to their off values, so a
    * restore that unsets them instead of putting the value back shows. */
  private def caller(): SparkSession = {
    val c = GraftPlanBridge.cloneSession(spark)
    c.conf.set("spark.sql.session.timeZone", "UTC")
    c.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    c.conf.set("spark.graft.acid.writeChangeData", "false")
    c.conf.set("spark.graft.acid.parquetCheckpointMinFiles", "10000")
    c.conf.set("spark.graft.acid.checkpointShards", "1")
    acid.GraftDvScanRewrite.installAll(c)
    c.experimental.extraStrategies =
      c.experimental.extraStrategies :+ plans.TopKPerKeyStrategy
    c
  }

  private def state(s: SparkSession) =
    (s.conf.getAll, s.experimental.extraOptimizations,
      s.experimental.extraStrategies)

  private def run(s: SparkSession, gate: String): DataFrame =
    SparkEntry.queries(gate)(s, sf)

  Seq(
    "q_topk_rewrite",             // installs the window-idiom rewrite
    "q_stream_map_state",         // transformWithState: RocksDB provider
    "q_acid_sql",                 // the graft catalog
    "q_acid_cdc_by_version",      // writeChangeData fixture (merge)
    "q_acid_stream_cdc_served",   // writeChangeData fixture (DV DML)
    "q_acid_sidecar_checkpoint"   // checkpoint knobs fixture
  ).foreach { gate =>
    test(s"$gate leaves the caller's conf and rules as it found them") {
      val s = caller()
      val before = state(s)
      assert(run(s, gate).collect().nonEmpty)
      val after = state(s)
      assert(after._1 == before._1,
        s"conf changed: ${(after._1.toSet diff before._1.toSet) ++ (before._1.toSet diff after._1.toSet)}")
      assert(after._2 == before._2, "extraOptimizations changed")
      assert(after._3 == before._3, "extraStrategies changed")
    }
  }

  test("q_track_topk plans the same before and after q_topk_rewrite ran") {
    val s = caller()
    // expression and exchange ids differ between two builds of a query
    def plan(gate: String): String =
      run(s, gate).queryExecution.executedPlan.toString
        .replaceAll("#\\d+L?", "#").replaceAll("plan_id=\\d+", "plan_id=")
    val before = plan("q_track_topk")
    // the rewrite still fires for the gate that asks for it
    assert(plan("q_topk_rewrite").contains("TopKPerKey"))
    val after = plan("q_track_topk")
    assert(!after.contains("TopKPerKey"), after)
    assert(after == before)
  }
}
