package graft.acid

import graft.SparkSpec
import org.apache.hadoop.fs.Path

/** The SIDECAR (incremental) parquet checkpoint — the public Delta v2
  * checkpoint design: entries shard by path-CRC into dirs under
  * `_log/sidecars/<uuid>/shard=<s>`; the `.pcp` meta lists the shard
  * dirs and an incremental write re-references the prior checkpoint's
  * untouched shards verbatim, so a checkpoint on a 10⁶-file table
  * writes O(touched shards), not O(table). Correctness contract: cold
  * resolution through the sidecar form is line-identical to the
  * in-memory entry list, deterministic across handles, damage degrades
  * to the manifest chain, and vacuum never reclaims a referenced shard
  * root. */
class SidecarCheckpointSpec extends SparkSpec {

  private val MinFilesKey = "spark.graft.acid.parquetCheckpointMinFiles"
  private val ShardsKey = "spark.graft.acid.checkpointShards"

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def withSidecars[A](k: Int)(body: => A): A = {
    spark.conf.set(MinFilesKey, "1")
    spark.conf.set(ShardsKey, k.toString)
    try body finally { spark.conf.unset(MinFilesKey); spark.conf.unset(ShardsKey) }
  }

  /** Synthetic entry covering the tag families the line format carries
    * (ParquetCheckpointSpec proves the columnar codec lossless; here the
    * entries just need distinct, stable lines). */
  private def mkEntry(t: GraftTable, i: Int): GraftTable.FileEntry = GraftTable.FileEntry(
    path = f"data/c1-fake/part-$i%06d.parquet",
    stats = Some((i.toLong, i + 10L)),
    windows = Map("k" -> ((i.toLong, i + 100L))),
    rows = Some(100L + i),
    strWindows = Map("s" -> ((s"a$i", s"z$i"))))

  private def metaLines(root: String, v: Long): List[String] =
    scala.io.Source.fromInputStream(fs.open(new Path(
      s"$root/_log/v${"%020d".format(v)}.pcp"))).getLines().toList

  private def shardRefs(root: String, v: Long): Seq[String] =
    metaLines(root, v).filter(_.startsWith("s\t")).map(_.split('\t')(2))

  test("a sidecar checkpoint publishes shard dirs and a cold handle resolves it line-identically") {
    withSidecars(8) {
      val root = graft.TempDirs.create("graft_scp_basic")
      val t = new GraftTable(spark, root, checkpointInterval = 1)
      val es = (0 until 600).map(mkEntry(t, _))
      t.commit(1L, es, op = "append")
      val meta = metaLines(root, 1L)
      assert(meta.head.contains("ns=8") && meta.head.contains("nf=600") &&
        meta.head.contains("pcps"),
        s"sidecar meta must declare shards, count and the pcps gate: ${meta.head}")
      val refs = shardRefs(root, 1L)
      assert(refs.nonEmpty && refs.forall(_.startsWith("sidecars/")))
      refs.foreach(rel => assert(fs.exists(new Path(s"$root/_log/$rel")),
        s"referenced shard dir must exist: $rel"))
      val cold = new GraftTable(spark, root, checkpointInterval = 1)
      assert(cold.entries(1L).map(_.line).sorted == es.map(_.line).sorted,
        "cold sidecar resolution must be line-identical")
      assert(cold.checkpointDF(1L).exists(_.count() == 600L),
        "the metadata face must serve the sidecar form")
    }
  }

  test("an incremental checkpoint rewrites only the touched shards and reuses the rest") {
    withSidecars(8) {
      val root = graft.TempDirs.create("graft_scp_incr")
      val t = new GraftTable(spark, root, checkpointInterval = 1)
      val es = (0 until 600).map(mkEntry(t, _))
      t.commit(1L, es, op = "append")
      val refs1 = shardRefs(root, 1L).toSet
      val uuid1 = refs1.head.split('/')(1)
      assert(refs1.forall(_.split('/')(1) == uuid1),
        "a full write publishes all shards under one uuid root")
      // v2: a 3-entry delta over the 600 — drop one, re-stat one, add one
      val es2 = es.drop(1).map(e =>
        if (e.path.endsWith("000002.parquet")) e.copy(rows = Some(9999L)) else e
      ) :+ mkEntry(t, 7001)
      t.commit(2L, es2, op = "compact")
      val refs2 = shardRefs(root, 2L)
      val reused = refs2.count(_.split('/')(1) == uuid1)
      val fresh = refs2.size - reused
      assert(reused >= 5, s"untouched shards must be re-referenced " +
        s"verbatim (reused=$reused of ${refs2.size})")
      assert(fresh <= 3, s"at most the 3 touched paths' shards rewrite, got $fresh")
      val cold = new GraftTable(spark, root, checkpointInterval = 1)
      assert(cold.entries(2L).map(_.line).sorted == es2.map(_.line).sorted,
        "incremental resolution must be line-identical to the commit list")
      // determinism: two cold handles agree on the exact sequence
      val again = new GraftTable(spark, root, checkpointInterval = 1)
      assert(cold.entries(2L).map(_.path) == again.entries(2L).map(_.path))
      // order law: survivors keep their relative order; the re-statted
      // and new entries re-append past them (the delta-replay placement)
      val paths = cold.entries(2L).map(_.path)
      val survivors = es2.map(_.path).filterNot(p =>
        p.endsWith("000002.parquet") || p == mkEntry(t, 7001).path)
      assert(paths.filter(survivors.toSet) == survivors.filter(paths.toSet),
        "survivors' relative order must be replay-invariant")
    }
  }

  test("every manifest tag family survives the shard codec AND a dirty-shard rebuild") {
    withSidecars(4) {
      val root = graft.TempDirs.create("graft_scp_codec")
      val t = new GraftTable(spark, root, checkpointInterval = 1)
      // the FULL tag surface (ParquetCheckpointSpec's shape): stats,
      // partition window, sidecar bloom and ndv refs, byte length, dv
      // refs, layout tag, long/string/time windows
      def full(i: Int): GraftTable.FileEntry = GraftTable.FileEntry(
        path = f"data/c1-fake/part-$i%06d.parquet",
        stats = Some((i.toLong, i + 10L)),
        part = if (i % 3 == 0) Some((i.toLong % 7, i.toLong % 7)) else None,
        nvRef = if (i % 5 == 0) Some(1L) else None,
        bytes = Some(1000L + i),
        windows = Map("k" -> ((i.toLong, i + 100L))),
        rows = Some(100L + i),
        bloomRef = if (i % 4 == 0) Some(1L) else None,
        strWindows = Map("s" -> ((s"a$i", s"z$i"))),
        dvRef = if (i % 6 == 0) Some(1L) else None,
        dvCount = if (i % 6 == 0) 2L else 0L,
        zTag = if (i % 2 == 0) Some("a2s") else None,
        timeWindows = Map("ts" -> (('u', 1000L * i, 2000L * i)),
          "d" -> (('d', 10L + i, 20L + i))))
      val es = (0 until 120).map(full)
      t.commit(1L, es, op = "append")
      // v2 dirties ONE shard: the rebuilt shard's entries and the reused
      // shards' entries must BOTH round-trip line-identically
      val es2 = es :+ full(9001)
      t.commit(2L, es2, op = "append")
      val cold = new GraftTable(spark, root, checkpointInterval = 1)
      assert(cold.entries(2L).map(_.line).sorted == es2.map(_.line).sorted,
        "all tag families must survive the sharded codec + incremental rebuild")
    }
  }

  test("a missing shard dir degrades to the manifest chain, never a wrong or thrown read") {
    withSidecars(8) {
      val root = graft.TempDirs.create("graft_scp_damaged")
      val t = new GraftTable(spark, root, checkpointInterval = 1)
      val es = (0 until 300).map(mkEntry(t, _))
      t.commit(1L, es, op = "append")
      val victim = shardRefs(root, 1L).head
      fs.delete(new Path(s"$root/_log/$victim"), true)
      val cold = new GraftTable(spark, root, checkpointInterval = 1)
      assert(cold.entries(1L).map(_.line).sorted == es.map(_.line).sorted,
        "a damaged sidecar checkpoint must fall back to the manifest chain")
      assert(cold.checkpointDF(1L).isEmpty,
        "the metadata face must refuse a damaged sidecar checkpoint")
    }
  }

  test("an EMPTY sidecar checkpoint (delete-all) resolves to zero entries, not a thrown path read") {
    withSidecars(4) {
      val root = graft.TempDirs.create("graft_scp_empty")
      val t = new GraftTable(spark, root, checkpointInterval = 1)
      t.commit(1L, (0 until 50).map(mkEntry(t, _)), op = "append")
      // delete-all: nf=0 writes a sidecar meta with NO shard lines —
      // resolution must serve zero entries through the sidecar form,
      // never read the (nonexistent) classic part dir. minFiles=0 keeps
      // the empty commit on the parquet-checkpoint path.
      spark.conf.set(MinFilesKey, "0")
      t.commit(2L, Nil, op = "delete")
      val meta = metaLines(root, 2L)
      assert(meta.head.contains("nf=0") && meta.head.contains("ns=4") &&
        shardRefs(root, 2L).isEmpty, s"empty sidecar meta: ${meta.head}")
      val cold = new GraftTable(spark, root, checkpointInterval = 1)
      assert(cold.entries(2L).isEmpty,
        "an empty sidecar checkpoint must resolve to zero entries")
      assert(cold.checkpointDF(2L).exists(_.count() == 0L),
        "the metadata face must serve the empty sidecar form")
      // and a later append on top of the empty checkpoint reads fine
      t.commit(3L, Seq(mkEntry(t, 7777)), op = "append")
      val cold2 = new GraftTable(spark, root, checkpointInterval = 1)
      assert(cold2.entries(3L).map(_.path) == Seq(mkEntry(t, 7777).path))
    }
  }

  test("a corrupted shard-ref line degrades to the manifest chain, never a MatchError") {
    withSidecars(4) {
      val root = graft.TempDirs.create("graft_scp_corrupt")
      val t = new GraftTable(spark, root, checkpointInterval = 1)
      val es = (0 until 200).map(mkEntry(t, _))
      t.commit(1L, es, op = "append")
      val roots1 = shardRefs(root, 1L).map(_.split('/')(1)).toSet
      // corrupt one s-line to the wrong arity, keeping the terminator
      // marker (a COMPLETE but damaged meta — the dangerous shape)
      val p = new Path(s"$root/_log/v${"%020d".format(1)}.pcp")
      val lines = metaLines(root, 1L)
      val bad = lines.map(l =>
        if (l == lines.find(_.startsWith("s\t")).get) "s\tnot-a-shard" else l)
      fs.delete(p, false)
      val out = fs.create(p, false)
      try out.write(bad.mkString("\n").getBytes("UTF-8")) finally out.close()
      val cold = new GraftTable(spark, root, checkpointInterval = 1)
      assert(cold.entries(1L).map(_.line).sorted == es.map(_.line).sorted,
        "corrupted shard refs must fall back to the manifest chain")
      assert(cold.checkpointDF(1L).isEmpty,
        "the metadata face must refuse corrupted shard refs")
      // the distributed prune falls back to the driver entry list
      val PruneKey = "spark.graft.acid.distributedPruneMinFiles"
      spark.conf.set(PruneKey, "1")
      try {
        val pruned = new GraftTable(spark, root, checkpointInterval = 1)
        val before = pruned.fullResolutions.get()
        assert(pruned.touchedEntries(1L, Seq(0L)).map(_.line).sorted ==
          es.map(_.line).sorted)
        assert(pruned.fullResolutions.get() == before + 1,
          "the distributed prune must fall back to the driver entry list")
      } finally spark.conf.unset(PruneKey)
      // the next checkpoint is written whole instead of extending it
      val es2 = es :+ mkEntry(t, 9001)
      t.commit(2L, es2, op = "append")
      val roots2 = shardRefs(root, 2L).map(_.split('/')(1)).toSet
      assert(roots2.size == 1 && (roots2 & roots1).isEmpty,
        s"a corrupted checkpoint must not be extended: $roots1 -> $roots2")
      assert(new GraftTable(spark, root, checkpointInterval = 1).entries(2L)
        .map(_.line).sorted == es2.map(_.line).sorted)
    }
  }

  test("vacuum keeps referenced shard roots, reclaims aged orphans, and the trimmed table resolves") {
    withSidecars(4) {
      val root = graft.TempDirs.create("graft_scp_vacuum")
      val t = new GraftTable(spark, root, checkpointInterval = 1)
      var es = (0 until 200).map(mkEntry(t, _))
      t.commit(1L, es, op = "append")
      es = es :+ mkEntry(t, 9001)
      t.commit(2L, es, op = "append")
      es = es :+ mkEntry(t, 9002)
      t.commit(3L, es, op = "append")
      // an aged orphan uuid root (a crashed writer's leftovers)
      val orphan = new Path(s"$root/_log/sidecars/orphandead")
      fs.mkdirs(orphan)
      fs.setTimes(orphan, System.currentTimeMillis() - 3600L * 1000L, -1)
      t.vacuum(retain = 1)
      val left = fs.listStatus(new Path(s"$root/_log/sidecars"))
        .map(_.getPath.getName).toSet
      assert(!left.contains("orphandead"), "aged orphan roots reclaim")
      val refs3 = shardRefs(root, 3L)
      refs3.foreach(rel => assert(fs.exists(new Path(s"$root/_log/$rel")),
        s"a RETAINED checkpoint's shard dir must survive vacuum: $rel"))
      val cold = new GraftTable(spark, root, checkpointInterval = 1)
      assert(cold.entries(3L).map(_.line).sorted == es.map(_.line).sorted,
        "the trimmed table must resolve entirely from the sidecar checkpoint")
    }
  }
}
