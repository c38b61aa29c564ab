package graft.acid

import graft.SparkSpec

/** The PARQUET (columnar) checkpoint: lossless round-trip against the
  * text form, distributed cold-start resolution, column-pruned metadata
  * reads, feature gating, and vacuum integration. The text checkpoint
  * is a single driver-parsed file — fine at thousands of entries, the
  * cold-start bottleneck at ~10⁶ — so past a file-count threshold the
  * materialization switches to sharded parquet directories (one shard
  * below 100k entries) read as an ordinary distributed, column-prunable
  * scan (the public Delta parquet-checkpoint design). */
class ParquetCheckpointSpec extends SparkSpec {

  private val MinFilesKey = "spark.graft.acid.parquetCheckpointMinFiles"

  private def fs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)

  private def pcpMeta(root: String, v: Long) =
    new org.apache.hadoop.fs.Path(s"$root/_log/v${"%020d".format(v)}.pcp")

  /** The shard directories version `v`'s `.pcp` meta references. */
  private def shardDirs(root: String, v: Long): Seq[org.apache.hadoop.fs.Path] =
    scala.io.Source.fromInputStream(fs.open(pcpMeta(root, v))).getLines()
      .filter(_.startsWith("s\t"))
      .map(l => new org.apache.hadoop.fs.Path(s"$root/_log/${l.split('\t')(2)}"))
      .toSeq

  /** A synthetic entry exercising EVERY tag family the manifest line
    * format carries — stats, partition window, sidecar bloom and ndv
    * refs, dv ref+count, layout tag, row count, byte length, long /
    * string / time (micros + days) windows — so line-for-line
    * equality below proves the columnar codec lossless. */
  private def mkEntry(t: GraftTable, i: Int): GraftTable.FileEntry = GraftTable.FileEntry(
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

  test("a large checkpoint lands as parquet and a cold handle resolves it byte-identically") {
    spark.conf.set(MinFilesKey, "500")
    try {
      val root = graft.TempDirs.create("graft_pcp")
      // checkpointInterval=1: the first commit already materializes
      val t = new GraftTable(spark, root, checkpointInterval = 1)
      val entries = (0 until 600).map(mkEntry(t, _))
      t.commit(1L, entries, op = "append")
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_log/v${"%020d".format(1)}.pcp")), "pcp meta must exist")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/_log/v${"%020d".format(1)}.checkpoint")),
        "past the threshold the TEXT checkpoint must not be written")
      // the meta self-gates with the pcp feature
      val meta = scala.io.Source.fromInputStream(fs.open(
        new org.apache.hadoop.fs.Path(s"$root/_log/v${"%020d".format(1)}.pcp")))
        .getLines().toList
      assert(meta.head.contains("require=") && meta.head.contains("pcp"),
        s"meta must stamp the pcp feature: ${meta.head}")
      assert(meta.head.contains("nf=600"))
      // COLD resolution: a fresh handle with empty caches, with the
      // MANIFEST REMOVED so the checkpoint is the only possible source
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$root/_log/v${"%020d".format(1)}.manifest"), false)
      val cold = new GraftTable(spark, root, checkpointInterval = 1)
      val got = cold.entries(1L).map(_.line).toSet
      assert(got == entries.map(_.line).toSet,
        "parquet-checkpoint resolution must be line-for-line lossless")
    } finally spark.conf.unset(MinFilesKey)
  }

  test("text and parquet checkpoints of the same state resolve identically") {
    val rootT = graft.TempDirs.create("graft_pcp_text")
    val rootP = graft.TempDirs.create("graft_pcp_parq")
    val tt = new GraftTable(spark, rootT, checkpointInterval = 1)
    val tp = new GraftTable(spark, rootP, checkpointInterval = 1)
    // same CONTENT into both tables (entries are instance-scoped; equal
    // construction yields byte-equal manifest lines)
    tt.commit(1L, (0 until 64).map(mkEntry(tt, _)), op = "append")
    spark.conf.set(MinFilesKey, "1")
    try tp.commit(1L, (0 until 64).map(mkEntry(tp, _)), op = "append")
    finally spark.conf.unset(MinFilesKey)
    val fromText = new GraftTable(spark, rootT).entries(1L).map(_.line).sorted
    val fromParq = new GraftTable(spark, rootP).entries(1L).map(_.line).sorted
    assert(fromText == fromParq, "both checkpoint kinds must agree")
  }

  test("a 100k-entry checkpoint resolves, and metadata reads prune to their columns") {
    spark.conf.set(MinFilesKey, "50000")
    try {
      val root = graft.TempDirs.create("graft_pcp_100k")
      val t = new GraftTable(spark, root, checkpointInterval = 1)
      // lean entries at this scale (stats + rows), the realistic shape
      val entries = (0 until 100000).map { i =>
        GraftTable.FileEntry(f"data/c1-fake/part-$i%06d.parquet",
          stats = Some((i.toLong, i + 10L)), rows = Some(10L + (i % 5)),
          bytes = Some(1000L + i))
      }
      t.commit(1L, entries, op = "append")
      val cold = new GraftTable(spark, root, checkpointInterval = 1)
      assert(cold.entries(1L).size == 100000, "cold 100k resolution")
      // METADATA-ONLY consumer: a cold COUNT serve projects just
      // (n, dn) — the scan must NOT materialize windows/sketches/blooms
      val df = cold.checkpointDF(1L).getOrElse(fail("expected a parquet checkpoint"))
      val pruned = df.select("n", "dn")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("ReadSchema: struct<dn:bigint,n:bigint>"),
        s"checkpoint scan must column-prune, got plan:\n$plan")
      import org.apache.spark.sql.functions._
      val served = pruned.agg(sum(col("n") - col("dn"))).head().getLong(0)
      assert(served == entries.map(e => e.rows.get - e.dvCount).sum)
    } finally spark.conf.unset(MinFilesKey)
  }

  test("both checkpoint forms preserve commit/write entry ORDER on resolution") {
    val rootT = graft.TempDirs.create("graft_pcp_ord_t")
    val rootP = graft.TempDirs.create("graft_pcp_ord_p")
    val tt = new GraftTable(spark, rootT, checkpointInterval = 1)
    val tp = new GraftTable(spark, rootP, checkpointInterval = 1)
    // DESCENDING paths: a path sort would invert this order, so order
    // equality below proves the ord column (not a lucky sort) restores it
    val idx = (0 until 64).reverse
    spark.conf.unset(MinFilesKey) // text form for tt
    tt.commit(1L, idx.map(mkEntry(tt, _)), op = "append")
    spark.conf.set(MinFilesKey, "1") // parquet form for tp
    try tp.commit(1L, idx.map(mkEntry(tp, _)), op = "append")
    finally spark.conf.unset(MinFilesKey)
    val fromText = new GraftTable(spark, rootT).entries(1L).map(_.path)
    val fromParq = new GraftTable(spark, rootP).entries(1L).map(_.path)
    assert(fromText == idx.map(i => f"data/c1-fake/part-$i%06d.parquet"),
      "text checkpoint must preserve write order")
    assert(fromParq == fromText,
      "parquet checkpoint must resolve in the SAME order as the text form")
  }

  test("a failed distributed checkpoint write never fails the commit that triggered it") {
    spark.conf.set(MinFilesKey, "1")
    val root = graft.TempDirs.create("graft_pcp_fail")
    val t = new GraftTable(spark, root, checkpointInterval = 1)
    val entries = (0 until 8).map(mkEntry(t, _))
    // an unloadable filesystem impl in the JOB hadoop conf (session SQL
    // confs pass through to it) makes the CHECKPOINT write throw at
    // output-path resolution (RuntimeException(ClassNotFoundException) —
    // NOT an IOException: exactly the class the r12 catch missed; the
    // manifest is a plain text write through the CONTEXT hadoop conf,
    // unaffected). The commit whose manifest already landed must still
    // report success, with resolution served by the chain.
    val implKey = "fs.file.impl"
    val cacheKey = "fs.file.impl.disable.cache"
    spark.conf.set(implKey, "no.such.FileSystemImpl")
    spark.conf.set(cacheKey, "true") // bypass the FS cache so the bad impl loads
    val v = try t.commit(1L, entries, op = "append")
      finally {
        spark.conf.unset(implKey)
        spark.conf.unset(cacheKey)
        spark.conf.unset(MinFilesKey)
      }
    assert(v == 1L, "commit must succeed despite the checkpoint failure")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/_log/v${"%020d".format(1)}.pcp")),
      "no meta may be published for a failed checkpoint write")
    assert(new GraftTable(spark, root).entries(1L).map(_.line).toSet ==
      entries.map(_.line).toSet, "the manifest chain must stay sufficient")
  }

  test("a damaged checkpoint (nf mismatch) falls back to the manifest chain, loudly-warned not fatal") {
    spark.conf.set(MinFilesKey, "1")
    val root = graft.TempDirs.create("graft_pcp_damaged")
    val t = new GraftTable(spark, root, checkpointInterval = 1)
    import spark.implicits._
    try (1 to 3).foreach(i =>
      t.append(Seq((i.toLong, s"r$i")).toDF("id", "s")))
    finally spark.conf.unset(MinFilesKey)
    val dirs = shardDirs(root, 3L)
    assert(dirs.nonEmpty && dirs.forall(fs.exists))
    // damage the PART FILES under a published meta (the torn shape a
    // crash or external interference leaves): resolution must fall back
    // to the delta-chain walk while it exists, not fail the table
    dirs.flatMap(fs.listStatus(_)).filter(_.getPath.getName.startsWith("part-"))
      .foreach(st => fs.delete(st.getPath, false))
    val cold = new GraftTable(spark, root)
    assert(cold.entries(3L).size == 3,
      "nf mismatch must fall back to the manifest chain")
    assert(cold.snapshot().count() == 3L)
    // and vacuum's completeness guard REBUILDS it before trimming the
    // chain (bare existence of the damaged artifact must not satisfy it)
    cold.vacuum(retain = 1)
    val rebuilt = new GraftTable(spark, root)
    assert(rebuilt.entries(3L).size == 3 && rebuilt.snapshot().count() == 3L,
      "vacuum must leave the oldest retained version resolvable")
  }

  test("distributed pruning serves window predicates from the checkpoint scan, delta overlay included") {
    import org.apache.spark.sql.functions.col
    val DistKey = "spark.graft.acid.distributedPruneMinFiles"
    spark.conf.set(MinFilesKey, "500")
    spark.conf.set(DistKey, "500")
    try {
      val root = graft.TempDirs.create("graft_pcp_prune")
      // v1: 2000 entries with disjoint stats windows [10i, 10i+9],
      // checkpointed as parquet (interval=1, past the 500 threshold)
      val t = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 1)
      val es = (0 until 2000).map(i => GraftTable.FileEntry(
        f"data/c1-fake/part-$i%06d.parquet",
        stats = Some((i * 10L, i * 10L + 9L)), rows = Some(10L)))
      t.commit(1L, es, op = "append")
      // v2: a DELTA on top (interval=10 handle → no checkpoint at v2):
      // drop the [50,59] file, add a [55,58] one
      val t2 = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 10)
      val base = t2.entries(1L)
      val rm = base.find(_.stats.contains((50L, 59L))).get
      val add = GraftTable.FileEntry("data/c2-fake/part-added.parquet",
        stats = Some((55L, 58L)), rows = Some(4L))
      t2.commit(2L, base.filterNot(_.path == rm.path) :+ add, op = "append")
      // COLD handle (empty caches — the distributed path's precondition)
      val pred = col("k") >= 50L && col("k") <= 60L
      val cold = new GraftTable(spark, root, statsCol = Some("k"))
      val dist = cold.filesForPredicate(pred, Some(2L))
      // driver-path reference: same resolution with the threshold maxed
      spark.conf.set(DistKey, Long.MaxValue.toString)
      val drv = new GraftTable(spark, root, statsCol = Some("k"))
        .filesForPredicate(pred, Some(2L))
      // SEQ equality: the pruned path must also come back in the same
      // deterministic (ord-column) order as the driver path, not just
      // the same set — downstream consumers see a stable file order
      assert(dist == drv, "distributed pruning must equal the driver path")
      assert(dist.toSet == Set(
        es.find(_.stats.contains((60L, 69L))).get.path, add.path),
        s"expected the [60,69] file + the delta add, got $dist")
      assert(!dist.contains(rm.path), "the delta remove must be honored")
    } finally {
      spark.conf.unset(MinFilesKey)
      spark.conf.unset(DistKey)
    }
  }

  test("distributed pruning validates checkpoint completeness (nf) before serving") {
    import org.apache.spark.sql.functions.col
    val DistKey = "spark.graft.acid.distributedPruneMinFiles"
    spark.conf.set(MinFilesKey, "500")
    spark.conf.set(DistKey, "500")
    try {
      val root = graft.TempDirs.create("graft_pcp_prune_dmg")
      val t = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 1)
      val es = (0 until 2000).map(i => GraftTable.FileEntry(
        f"data/c1-fake/part-$i%06d.parquet",
        stats = Some((i * 10L, i * 10L + 9L)), rows = Some(10L)))
      t.commit(1L, es, op = "append")
      // damage the published checkpoint: drop ONE part file behind the
      // complete .pcp meta — the exact shape the 'damaged' test above
      // declares reachable. The distributed prune must detect the nf
      // mismatch and fall back to the manifest chain, NOT silently
      // return fewer survivors (= silently dropped rows).
      val part = shardDirs(root, 1L).flatMap(fs.listStatus(_))
        .filter(_.getPath.getName.startsWith("part-")).head.getPath
      fs.delete(part, false)
      val pred = col("k") >= 50L && col("k") <= 60L
      val cold = new GraftTable(spark, root, statsCol = Some("k"))
      val got = cold.filesForPredicate(pred, Some(1L)).toSet
      assert(got == Set(
        es.find(_.stats.contains((50L, 59L))).get.path,
        es.find(_.stats.contains((60L, 69L))).get.path),
        s"nf-mismatch must fall back to the complete manifest chain, got $got")
    } finally {
      spark.conf.unset(MinFilesKey)
      spark.conf.unset(DistKey)
    }
  }

  test("distributed pruning end-to-end: snapshotWhere over a checkpointed REAL table") {
    import org.apache.spark.sql.functions.col
    val DistKey = "spark.graft.acid.distributedPruneMinFiles"
    spark.conf.set(MinFilesKey, "1")
    spark.conf.set(DistKey, "1")
    try {
      val root = graft.TempDirs.create("graft_pcp_prune_e2e")
      val t = new GraftTable(spark, root, statsCol = Some("id"),
        checkpointInterval = 1)
      import spark.implicits._
      t.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "s")
        .repartitionByRange(4, col("id")))
      val t2 = new GraftTable(spark, root, statsCol = Some("id"),
        checkpointInterval = 10)
      t2.append(Seq((101L, "v101")).toDF("id", "s")) // v2: delta overlay
      val cold = GraftTable.load(spark, root)
      val got = cold.snapshotWhere(col("id") >= 99L).orderBy(col("id"))
        .as[(Long, String)].collect().toSeq
      assert(got == Seq((99L, "v99"), (100L, "v100"), (101L, "v101")), got)
    } finally {
      spark.conf.unset(MinFilesKey)
      spark.conf.unset(DistKey)
    }
  }

  test("an unknown checkpoint feature refuses loudly; vacuum reclaims parquet artifacts") {
    spark.conf.set(MinFilesKey, "1")
    try {
      val root = graft.TempDirs.create("graft_pcp_gate")
      val t = new GraftTable(spark, root, checkpointInterval = 1)
      import spark.implicits._
      (1 to 4).foreach(i => t.append(Seq((i.toLong, s"r$i")).toDF("id", "s")))
      assert(fs.exists(pcpMeta(root, 4L)) && shardDirs(root, 4L).forall(fs.exists))
      def rewriteMeta(text: String): Unit = {
        fs.delete(pcpMeta(root, 4L), false)
        val out = fs.create(pcpMeta(root, 4L), false)
        try out.write(text.getBytes("UTF-8")) finally out.close()
      }
      val sane = scala.io.Source.fromInputStream(fs.open(pcpMeta(root, 4L))).mkString
      // doctor v4's meta to require a feature this reader lacks
      rewriteMeta(sane.replaceFirst("require=\\S+", "require=zzz"))
      val e = intercept[IllegalStateException](
        new GraftTable(spark, root).entries(4L))
      assert(e.getMessage.contains("zzz"), e.getMessage)
      // restore the sane meta, then vacuum: artifacts of dropped
      // versions (meta + shard dirs) must be reclaimed, the retained
      // one's shards kept
      rewriteMeta(sane)
      val dropped = (1L to 3L).flatMap(shardDirs(root, _))
      assert(dropped.nonEmpty && dropped.forall(fs.exists))
      t.vacuum(retain = 1)
      assert(!fs.exists(pcpMeta(root, 1L)) && !dropped.exists(fs.exists),
        "vacuum must reclaim dropped parquet checkpoints")
      assert(shardDirs(root, 4L).forall(fs.exists))
      assert(new GraftTable(spark, root).snapshot().count() == 4L)
    } finally spark.conf.unset(MinFilesKey)
  }
}
