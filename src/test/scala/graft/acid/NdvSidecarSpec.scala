package graft.acid

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** NDV sketches live in `.nvs` SIDECARS (r14): the resident entry list
  * — what `entriesCache` and every commit/compact/vacuum materialize on
  * the driver — carries an `nvf=` REF instead of the ~200 B/column HLL
  * payload, and the sketch bytes load per use through a bounded LRU.
  * Together with sidecar blooms (bf=) this makes the warm-handle entry
  * footprint O(paths + windows) at 10⁶ files: no bloom bytes, no NDV
  * bytes. The sketches stay ADVISORY — a missing sidecar degrades CBO
  * stats, never rows — so `nvf=` is not require=-gated. */
class NdvSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(root: String): GraftTable = {
    val t = new GraftTable(spark, root, statsCol = Some("id"),
      bloomCol = Some("id"))
    t.append((1L to 2000L).map(i => (i, s"n$i", i * 1.0))
      .toDF("id", "name", "v").repartitionByRange(4, col("id")))
    t
  }

  test("resident entries exclude bloom AND ndv bytes; stats still serve per use") {
    val t = freshTable(graft.TempDirs.create("graft_nvs"))
    val es = t.entries(1L)
    assert(es.nonEmpty)
    assert(es.forall(e => e.bloom.isEmpty && e.bloomRef.isDefined),
      "fresh blooms must live in the .blooms sidecar")
    assert(es.forall(e => e.ndv.isEmpty && e.nvRef.contains(1L)),
      "fresh NDV sketches must live in the .nvs sidecar")
    // the estimates still serve (per-use sidecar load), id NDV ~ 2000
    val ndv = t.filesDF().select("ndv").collect()
      .map(_.getMap[String, Long](0))
    assert(ndv.forall(_.keySet.exists(_.equalsIgnoreCase("id"))),
      "per-file NDV estimates must still serve from the sidecar")
    // bloom point pruning still works (ref-served bits)
    val hit = t.filesForPoint(1500L, Some(1L))
    assert(hit.size < es.size, "bloom pruning must still skip files")
  }

  test("both checkpoint forms round-trip the nvf ref; resolution stays light") {
    val MinFilesKey = "spark.graft.acid.parquetCheckpointMinFiles"
    for ((tag, conf) <- Seq(("text", None), ("parq", Some("1")))) {
      conf.foreach(spark.conf.set(MinFilesKey, _))
      try {
        val root = graft.TempDirs.create(s"graft_nvs_cp_$tag")
        val t = new GraftTable(spark, root, statsCol = Some("id"),
          checkpointInterval = 1)
        t.append((1L to 100L).map(i => (i, s"n$i")).toDF("id", "s"))
        val cold = new GraftTable(spark, root, statsCol = Some("id"))
        val es = cold.entries(1L)
        assert(es.forall(e => e.ndv.isEmpty && e.nvRef.contains(1L)),
          s"$tag checkpoint resolution must stay light")
        assert(cold.filesDF().select("ndv").collect()
          .forall(!_.getMap[String, Long](0).isEmpty),
          s"$tag-resolved entries must still serve NDV")
      } finally conf.foreach(_ => spark.conf.unset(MinFilesKey))
    }
  }

  test("clone re-keys the NDV sidecar into the clone's own v1") {
    val t = freshTable(graft.TempDirs.create("graft_nvs_cl_src"))
    val destRoot = graft.TempDirs.create("graft_nvs_cl_dst")
    val c = t.cloneTo(destRoot)
    val es = c.entries(1L)
    assert(es.forall(e => e.ndv.isEmpty && e.nvRef.contains(1L)),
      "clone entries must reference the CLONE's own .nvs")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$destRoot/_log/v${"%020d".format(1)}.nvs")))
    assert(c.filesDF().select("ndv").collect()
      .forall(!_.getMap[String, Long](0).isEmpty),
      "the clone must serve NDV from its own sidecar")
  }

  test("vacuum keeps referenced .nvs sidecars and reclaims dropped ones") {
    val root = graft.TempDirs.create("graft_nvs_vac")
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    t.append((1L to 50L).map(i => (i, s"a$i")).toDF("id", "s"))  // v1 + .nvs
    t.append((51L to 99L).map(i => (i, s"b$i")).toDF("id", "s")) // v2 + .nvs
    t.compact(targetFiles = 1)                                   // v3 + .nvs
    t.vacuum(retain = 1)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def nvs(v: Long) = new org.apache.hadoop.fs.Path(
      s"$root/_log/v${"%020d".format(v)}.nvs")
    assert(!fs.exists(nvs(1L)) && !fs.exists(nvs(2L)),
      "dropped versions' unreferenced .nvs must be reclaimed")
    assert(fs.exists(nvs(3L)), "the retained version's .nvs survives")
    assert(GraftTable.load(spark, root).filesDF().select("ndv").collect()
      .forall(!_.getMap[String, Long](0).isEmpty))
  }
}
