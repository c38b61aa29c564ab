package graft.acid

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.col
import java.nio.charset.StandardCharsets.UTF_8

/** UNPREDICATED distributed snapshot planning (round 16, r15 stretch
  * directive #8): past `distributedPruneMinFiles`, a full-table
  * snapshot read plans from a slim (path, dvRef, ord) projection of
  * the parquet checkpoint — no resident FileEntry list, no
  * entriesCache population — while serving byte-identical content,
  * including merge-on-read DV masks and the delta-chain overlay above
  * the checkpoint. */
class DistributedSnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val MinFilesKey = "spark.graft.acid.parquetCheckpointMinFiles"
  private val ShardsKey = "spark.graft.acid.checkpointShards"
  private val PruneKey = "spark.graft.acid.distributedPruneMinFiles"

  private def withDistributed[A](body: => A): A = {
    spark.conf.set(MinFilesKey, "1")
    spark.conf.set(ShardsKey, "8")
    spark.conf.set(PruneKey, "1")
    try body finally {
      spark.conf.unset(MinFilesKey); spark.conf.unset(ShardsKey)
      spark.conf.unset(PruneKey)
    }
  }

  test("a full snapshot read plans without materializing the entry list") {
    withDistributed {
      val root = graft.TempDirs.create("graft_distsnap")
      val t = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 1)
      t.append((1L to 400L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(4, col("k")))                        // v1 + pcp
      t.delete(col("k") === 7L)                                  // v2: DV delta
      t.append(Seq((401L, 401.0)).toDF("k", "v"))                // v3: delta add
      // a COLD handle: nothing resident, the read must plan distributed
      val cold = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 1)
      val baseline = cold.fullResolutions.get()
      val resident = cold.residentEntryVersions
      val got = cold.snapshot().orderBy("k").select("k").as[Long].collect().toSeq
      assert(cold.fullResolutions.get() == baseline,
        "full snapshot planning must not resolve the entry list " +
          s"($baseline -> ${cold.fullResolutions.get()})")
      assert(cold.residentEntryVersions == resident,
        "full snapshot planning must not pin a resident entry list: " +
          (cold.residentEntryVersions -- resident).toString)
      // content: the DV-masked row is gone, the delta-added row present
      assert(got == ((1L to 400L).filterNot(_ == 7L) :+ 401L).sorted)
    }
  }

  test("the snapshot scan is LOG-SERVED: FileStatus from fz= tags, no listing reader") {
    // r16 directive #4 (end state): the survivor list flows straight
    // into the scan relation — the plan's leaf is a HadoopFsRelation
    // whose FileIndex is GraftLogFileIndex (path + byte length served
    // from the log's fz= tags), not an InMemoryFileIndex built by
    // re-statting every path. sizeInBytes is the exact survivor sum.
    withDistributed {
      val root = graft.TempDirs.create("graft_distsnap_logidx")
      val t = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 1)
      t.append((1L to 200L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(4, col("k")))
      t.delete(col("k") === 3L)                                  // DV delta
      val cold = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 1)
      val df = cold.snapshot()
      val locations = df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          l.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            .location
      }
      assert(locations.nonEmpty && locations.forall(
        _.isInstanceOf[GraftLogFileIndex]),
        s"expected every scan leaf log-served, got: $locations")
      val expectedBytes = locations.map(_.sizeInBytes).sum
      assert(expectedBytes > 0L, "log-served size stats must be exact")
      // content through the log-served scan, DV mask applied
      assert(df.orderBy("k").select("k").as[Long].collect().toSeq ==
        (1L to 200L).filterNot(_ == 3L))
    }
  }

  test("the slim path and the driver path serve identical content") {
    withDistributed {
      val root = graft.TempDirs.create("graft_distsnap_eq")
      // v1 checkpoints (8 shards); the chain above it does not, so every
      // resolution below overlays the deltas on the v1 checkpoint
      new GraftTable(spark, root, statsCol = Some("k"), checkpointInterval = 1)
        .append((1L to 100L).map(i => (i, s"s$i", i * 1.0)).toDF("k", "s", "v")
          .repartitionByRange(16, col("k")))                   // v1 + pcp
      val t = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 100)
      t.update(col("k") === 5L, Map("v" -> (col("v") + 9.0))) // v2
      // v3: an ABORTED multi-table participant — its marker holds `a`
      val marker = new Path(s"$root/_log/_txn/eq_aborted")
      val out = fs.create(marker, false)
      try out.write("a".getBytes(UTF_8)) finally out.close()
      val w = t.writeData(Seq((500L, "x", 0.0)).toDF("k", "s", "v"), t.nextVersion)
      t.commit(t.nextVersion, t.entries(t.latestVersion.get) ++ w,
        op = "append", pending = Some(GraftTable.b64(marker.toString)))
      t.delete(col("k") === 40L)                               // v4: DV re-tag
      t.delete(col("k") >= 90L)                                // v5
      val lv = t.latestVersion.get
      val cold = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 100)
      val slim = cold.snapshot().orderBy("k").collect().toSeq
      val slimPaths = cold.distributedSnapshotSlim(lv).get.map(_.path)
      // force the classic driver resolution on a separate handle
      spark.conf.set(PruneKey, (1 << 30).toString)
      val classic = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 100)
      val full = classic.snapshot().orderBy("k").collect().toSeq
      assert(slim == full)
      assert(slim.map(_.getLong(0)) ==
        (1L to 89L).filterNot(_ == 40L), "the aborted add must not show")
      val driverPaths = classic.entries(lv).map(_.path)
      assert(slimPaths == driverPaths,
        s"slim and driver resolution must list the same order:\n" +
          s"$slimPaths\n$driverPaths")
      // the next checkpoint EXTENDS v1's through the same chain: a
      // metadata-only commit on a handle that checkpoints every version
      val ext = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 1)
      ext.commitDelta(lv + 1, Nil, Nil, op = "noop")
      val roots1 = shardRefs(root, 1L).toSet
      assert(shardRefs(root, lv + 1).exists(roots1),
        "the checkpoint must extend v1's, re-referencing untouched shards")
      val fromCheckpoint = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 100).entries(lv + 1).map(_.path)
      assert(fromCheckpoint == driverPaths,
        s"the extending checkpoint must list the same order:\n" +
          s"$fromCheckpoint\n$driverPaths")
    }
  }

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def shardRefs(root: String, v: Long): Seq[String] = {
    val in = fs.open(new Path(s"$root/_log/v${"%020d".format(v)}.pcp"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.startsWith("s\t")).map(_.split('\t')(2)).toList
    finally in.close()
  }
}
