package graft.acid

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The incremental commit log: commits are O(changed files) DELTAS, not
  * full active-file lists; periodic checkpoints bound the replay chain;
  * and vacuum keeps retained versions resolvable after their chain below
  * is dropped. */
class IncrementalLogSpec extends SparkSpec {
  import spark.implicits._

  private def fs(root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestBytes(root: String, v: Long): Long =
    fs(root).getFileStatus(
      new Path(root, f"_log/v$v%020d.manifest")).getLen

  private def rows(n: Int, off: Int = 0) =
    (1 to n).map(i => (i.toLong + off, s"u${i + off}")).toDF("id", "name")

  test("an append to a large table writes a delta manifest, not a full file list") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_inclog"))
    // a 64-file base: repartition forces many files in one commit
    t.append(rows(640).repartition(64))
    val baseSize = manifestBytes(t.root, 1L)
    // v1 lists all 64 files (it IS the delta from empty); the next
    // single-file append must cost O(1) manifest bytes, not O(64)
    t.append(rows(1, 10000).coalesce(1))
    val deltaSize = manifestBytes(t.root, 2L)
    assert(t.activeFiles(2L).size == 65)
    assert(deltaSize < baseSize / 8,
      s"a 1-file append wrote $deltaSize bytes vs $baseSize for the 64-file base " +
        "— the manifest is not incremental")
    // the delta manifest declares itself and its totals in the header
    val head = scala.io.Source.fromInputStream(
      fs(t.root).open(new Path(t.root, f"_log/v${2L}%020d.manifest"))).getLines().next()
    assert(head.contains("kind=delta") && head.contains("nf=65"))
  }

  test("resolution replays the delta chain and matches the data") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_inclog"))
    (1 to 7).foreach(i => t.append(rows(3, i * 10)))
    assert(t.versions == (1L to 7L))
    // every version resolves to its cumulative file set
    (1 to 7).foreach { v =>
      assert(t.snapshot(Some(v.toLong)).count() == 3L * v, s"version $v")
    }
    // a FRESH handle (empty caches) resolves identically
    val t2 = GraftTable.load(spark, t.root)
    assert(t2.snapshot(Some(7L)).count() == 21)
    assert(t2.activeFiles(4L).toSet == t.activeFiles(4L).toSet)
  }

  test("a checkpoint materializes every checkpointInterval commits") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_inclog"),
      checkpointInterval = 5)
    (1 to 11).foreach(i => t.append(rows(2, i * 10)))
    val f = fs(t.root)
    assert(f.exists(new Path(t.root, f"_log/v${5L}%020d.checkpoint")))
    assert(f.exists(new Path(t.root, f"_log/v${10L}%020d.checkpoint")))
    assert(!f.exists(new Path(t.root, f"_log/v${11L}%020d.checkpoint")))
    // resolution through the checkpoint equals resolution through the chain
    assert(t.snapshot(Some(11L)).count() == 22)
    val fresh = GraftTable.load(spark, t.root)
    assert(fresh.snapshot(Some(6L)).count() == 12) // checkpoint(5) + one delta
  }

  test("vacuum keeps retained versions resolvable after dropping their delta chain") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_inclog"),
      checkpointInterval = 1000) // never checkpoint on cadence
    (1 to 6).foreach(i => t.append(rows(2, i * 10)))
    t.vacuum(retain = 3) // keeps v4..v6; v4 is delta-only without rescue
    assert(t.versions == Seq(4L, 5L, 6L))
    // a fresh handle (no caches) must still resolve all retained versions
    val fresh = GraftTable.load(spark, t.root)
    assert(fresh.snapshot(Some(4L)).count() == 8)
    assert(fresh.snapshot(Some(6L)).count() == 12)
  }

  test("an overwrite-shaped commit (delta bigger than full) writes kind=full") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_inclog"))
    t.append(rows(20).repartition(4))
    t.overwrite(rows(5).coalesce(1))
    val head = scala.io.Source.fromInputStream(
      fs(t.root).open(new Path(t.root, f"_log/v${2L}%020d.manifest"))).getLines().next()
    assert(head.contains("kind=full"),
      s"an overwrite replacing 4 files with 1 should state the full list: $head")
    assert(t.snapshot().count() == 5)
  }

  test("the _latest pointer accelerates but never decides: stale/missing/corrupt all resolve") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_inclog_ptr"))
    (1 to 5).foreach(i => t.append(rows(2, i * 10)))
    val f = fs(t.root)
    val ptr = new Path(t.root, "_log/_latest")
    assert(f.exists(ptr), "commits must advance the pointer")
    assert(t.latestVersion.contains(5L))
    // STALE pointer (a slower concurrent writer overwrote it backwards):
    // forward probing still finds the true latest
    val out1 = f.create(ptr, true); out1.write("1".getBytes("UTF-8")); out1.close()
    assert(GraftTable.load(spark, t.root).latestVersion.contains(5L))
    // MISSING pointer (pre-pointer table): listing fallback
    f.delete(ptr, false)
    assert(GraftTable.load(spark, t.root).latestVersion.contains(5L))
    // CORRUPT pointer: fallback too
    val out2 = f.create(ptr, true); out2.write("junk".getBytes("UTF-8")); out2.close()
    assert(GraftTable.load(spark, t.root).latestVersion.contains(5L))
    // and the next commit repairs it
    val t2 = GraftTable.load(spark, t.root)
    t2.append(rows(1, 999))
    assert(t2.latestVersion.contains(6L))
  }
}
