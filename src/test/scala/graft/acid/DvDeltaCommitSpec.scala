package graft.acid

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** DELTA-FIRST merge-on-read DML (round 16): a DV DELETE/UPDATE within
  * the [[GraftTable.MaxDvSidecars]] bound commits O(touched files) —
  * dead entries remove, re-masked entries re-tag as remove+add over the
  * same path — with NO full entry-list materialization beyond the
  * pruned candidate probe (the hottest 100 TB mutation, r15 verdict
  * item #2). Header bookkeeping rides the same arithmetic as nf/nr:
  * `dvsv=` the live dv-sidecar refs (over-approximate on deltas, exact
  * on full commits), `dvn=` the exact masked-row total (the auto-purge
  * decision input — one header read, never a list walk). Past the
  * bound the classic path coalesces every live mask into one sidecar
  * and restates both exactly, resetting the bound.
  *
  * The specs run under the 100 TB log configuration (sharded parquet
  * checkpoints, interval 1): the seed's checkpoint pays the one
  * materialization, after which DV DML resolves nothing. */
class DvDeltaCommitSpec extends SparkSpec {
  import spark.implicits._

  private val MinFilesKey = "spark.graft.acid.parquetCheckpointMinFiles"
  private val ShardsKey = "spark.graft.acid.checkpointShards"

  private def withSidecars[A](body: => A): A = {
    spark.conf.set(MinFilesKey, "1")
    spark.conf.set(ShardsKey, "8")
    try body finally { spark.conf.unset(MinFilesKey); spark.conf.unset(ShardsKey) }
  }

  private def freshTable(prefix: String): GraftTable = {
    val root = graft.TempDirs.create(prefix)
    val t = new GraftTable(spark, root, statsCol = Some("k"),
      checkpointInterval = 1)
    // 4 range-clustered files over k = 1..400
    t.append((1L to 400L).map(i => (i, i * 1.0)).toDF("k", "v")
      .repartitionByRange(4, col("k")))
    t
  }

  test("a DV delete commits without materializing the full entry list") {
    withSidecars {
      val t = freshTable("graft_dvdelta_del")
      val baseline = t.fullResolutions.get()
      val resident = t.residentEntryVersions
      t.delete(col("k") === 7L)                                  // v2: DV
      assert(t.fullResolutions.get() == baseline,
        s"DV delete must stay delta-first (resolutions $baseline -> " +
          s"${t.fullResolutions.get()})")
      assert(t.residentEntryVersions == resident,
        "DV delete must not pin a new resident entry list: " +
          (t.residentEntryVersions -- resident).toString)
      // the manifest is a delta whose adds re-tag the touched path only
      val meta = t.headerMeta(2L)
      assert(meta.get("kind").contains("delta"))
      assert(meta.get("nf").contains("4"), s"nf carries: ${meta.get("nf")}")
      assert(meta.get("dvn").contains("1"), s"dvn: ${meta.get("dvn")}")
      assert(meta.get("dvsv").contains("2"), s"dvsv: ${meta.get("dvsv")}")
      // cold content + change feed both see exactly the masked row leave
      val cold = GraftTable.load(spark, t.root)
      assert(cold.snapshot().count() == 399L)
      assert(cold.snapshot().filter(col("k") === 7L).count() == 0L)
      val feed = cold.changeFeed(1L, 2L).collect()
      assert(feed.length == 1 && feed.head.getAs[String]("_change") == "delete"
        && feed.head.getAs[Long]("k") == 7L)
    }
  }

  test("a DV update commits delta-first: retag + post-image append") {
    withSidecars {
      val t = freshTable("graft_dvdelta_upd")
      val baseline = t.fullResolutions.get()
      t.update(col("k") === 5L, Map("v" -> (col("v") + 100.0)))  // v2: DV
      assert(t.fullResolutions.get() == baseline,
        "DV update must stay delta-first")
      val cold = GraftTable.load(spark, t.root)
      assert(cold.snapshot().count() == 400L)
      assert(cold.snapshot().filter(col("k") === 5L)
        .select("v").as[Double].head() == 105.0)
      // keyed CDC pairs the retag into a clean update
      val kinds = cold.changeFeedKeyed(1L, 2L, Seq("k"))
        .select("_change").as[String].collect().sorted.toSeq
      assert(kinds == Seq("update_postimage", "update_preimage"), kinds)
    }
  }

  test("past MaxDvSidecars the bound-crossing commit mask-merges DELTA-FIRST") {
    // r16 stretch directive #8: the crossing used to fall back to a
    // classic FULL commit (entry-list materialization + full manifest).
    // Now it folds every still-referenced mask into its own sidecar
    // inside the delta commit already being made, RESTATES (dvsv, dvn)
    // exactly, and rewrites ZERO data files.
    withSidecars {
      spark.conf.set("spark.graft.acid.distributedPruneMinFiles", "1")
      try {
        val t = freshTable("graft_dvdelta_bound")
        val dataBefore = t.activeFiles(1L).toSet
        t.delete(col("k") === 11L)                               // v2: refs {2}
        t.delete(col("k") === 111L)                              // v3: refs {2,3}
        assert(t.headerMeta(3L).get("dvsv").contains("2,3"))
        val cold = GraftTable.load(spark, t.root)
        val baseline = cold.fullResolutions.get()
        cold.delete(col("k") === 211L)                           // v4: crossing
        assert(cold.fullResolutions.get() == baseline,
          "the bound crossing must stay delta-first (no entry-list " +
            s"materialization: $baseline -> ${cold.fullResolutions.get()})")
        // mask-merge folded every live mask into v4's sidecar: refs
        // reset, dvn exact, the manifest is a DELTA
        assert(t.headerMeta(4L).get("kind").contains("delta"),
          s"kind: ${t.headerMeta(4L).get("kind")}")
        assert(t.headerMeta(4L).get("dvsv").contains("4"),
          s"dvsv after mask-merge: ${t.headerMeta(4L).get("dvsv")}")
        assert(t.headerMeta(4L).get("dvn").contains("3"))
        val refs = t.entries(4L).flatMap(_.dvRef).distinct
        assert(refs == Seq(4L), s"live sidecar refs after mask-merge: $refs")
        // ZERO data files written across the crossing: same physical set
        assert(t.activeFiles(4L).toSet == dataBefore,
          "the mask-merge crossing must not write or drop data files")
        assert(t.snapshot().count() == 397L)
        // ...and the NEXT dv commit is delta-first again (dvsv grows)
        t.delete(col("k") === 311L)                              // v5
        assert(t.headerMeta(5L).get("kind").contains("delta"))
        assert(t.headerMeta(5L).get("dvsv").contains("4,5"))
        assert(t.snapshot().count() == 396L)
        // cold-handle parity: the whole chain resolves from disk alone
        assert(GraftTable.load(spark, t.root).snapshot().count() == 396L)
      } finally spark.conf.unset("spark.graft.acid.distributedPruneMinFiles")
    }
  }

  test("REORG APPLY (COMPACT DVS) folds masks to one sidecar, zero data writes") {
    withSidecars {
      val t = freshTable("graft_dvdelta_reorgdvs")
      t.delete(col("k") === 7L)                                  // v2
      t.delete(col("k") === 107L)                                // v3
      assert(t.headerMeta(3L).get("dvsv").contains("2,3"))
      val dataBefore = t.activeFiles(3L).toSet
      val v = t.reorgCompactDvs()                                // v4
      assert(v == 4L)
      assert(t.headerMeta(4L).get("kind").contains("delta"))
      assert(t.headerMeta(4L).get("dvsv").contains("4"))
      assert(t.headerMeta(4L).get("dvn").contains("2"))
      assert(t.activeFiles(4L).toSet == dataBefore,
        "mask-merge REORG must write no data files")
      assert(t.entries(4L).flatMap(_.dvRef).distinct == Seq(4L))
      assert(t.snapshot().count() == 398L)
      assert(GraftTable.load(spark, t.root).snapshot().count() == 398L)
      // the SQL face drives the same op (derived session owns the
      // parser); a DV-free table no-ops metadata-only
      val s2 = graft.GraftSession.withExtensions(spark)
      val wh = graft.TempDirs.create("graft_reorgdvs_wh")
      s2.conf.set("spark.sql.catalog.grdvs", "graft.acid.GraftCatalog")
      s2.conf.set("spark.sql.catalog.grdvs.root", wh)
      val t2 = new GraftTable(spark, s"$wh/m", statsCol = Some("k"))
      t2.append((1L to 50L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(2, col("k")))
      t2.delete(col("k") === 3L)
      t2.delete(col("k") === 33L)
      s2.sql("REORG grdvs.m APPLY (COMPACT DVS)")
      val t2c = GraftTable.load(spark, s"$wh/m")
      assert(t2c.headerMeta(4L).get("dvsv").contains("4"))
      assert(t2c.snapshot().count() == 48L)
    }
  }

  test("a fully-masked file leaves the active set through a delta remove") {
    withSidecars {
      val root = graft.TempDirs.create("graft_dvdelta_dead")
      val t = new GraftTable(spark, root, statsCol = Some("k"),
        checkpointInterval = 1)
      t.append((1L to 100L).map(i => (i, i * 1.0)).toDF("k", "v")
        .repartitionByRange(4, col("k")))                        // 4×25 rows
      val baseline = t.fullResolutions.get()
      t.delete(col("k") <= 25L)                                  // kills file 1
      assert(t.fullResolutions.get() == baseline,
        "dead-file DV delete stays delta-first")
      val meta = t.headerMeta(2L)
      assert(meta.get("nf").contains("3"), s"nf after dead file: ${meta.get("nf")}")
      assert(meta.get("dvn").contains("0"), s"dvn: ${meta.get("dvn")}")
      assert(t.snapshot().count() == 75L)
      // nr stays exact through the delta arithmetic
      assert(meta.get("nr").contains("75"), s"nr: ${meta.get("nr")}")
    }
  }

  test("atomic DV participants publish delta-first (pending manifests)") {
    withSidecars {
      // force the probe distributed too: the second participant's base
      // (a pending-committed delta) has no checkpoint of its own, so a
      // driver-path probe would pay the one resolution this spec pins
      // away (the chain walk handles the pending delta + the v1 pcp)
      spark.conf.set("spark.graft.acid.distributedPruneMinFiles", "1")
      try atomicBody()
      finally spark.conf.unset("spark.graft.acid.distributedPruneMinFiles")
    }
  }

  private def atomicBody(): Unit = {
    {
      val raw = freshTable("graft_dvdelta_atraw")
      val mir = freshTable("graft_dvdelta_atmir")
      val baseline = mir.fullResolutions.get()
      GraftTable.commitAtomic(Seq(
        GraftTable.AtomicAppend(raw,
          Seq((9001L, 1.0)).toDF("k", "v")),
        GraftTable.AtomicDelete(mir, col("k") === 7L)))
      assert(mir.fullResolutions.get() == baseline,
        "an atomic DV-delete participant must stay delta-first " +
          s"($baseline -> ${mir.fullResolutions.get()})")
      val meta = mir.headerMeta(2L)
      assert(meta.get("kind").contains("delta"))
      assert(meta.contains("pending"), "participant publishes PENDING")
      assert(meta.get("dvn").contains("1"))
      assert(mir.snapshot().count() == 399L)
      assert(raw.snapshot().count() == 401L)
      // the atomic UPDATE participant takes the same path (re-baseline:
      // the snapshot asserts above replay the pending delta from the
      // cached v1 base, which counts as a resolution of their own)
      val base2 = mir.fullResolutions.get()
      GraftTable.commitAtomic(Seq(
        GraftTable.AtomicUpdate(mir, col("k") === 9L,
          Map("v" -> (col("v") + 1.0)))))
      assert(mir.fullResolutions.get() == base2,
        "an atomic DV-update participant must stay delta-first")
      assert(mir.snapshot().filter(col("k") === 9L)
        .select("v").as[Double].head() == 10.0)
    }
  }

  test("nf/nr/dvn arithmetic equals recomputation across a mixed DV history") {
    val t = freshTable("graft_dvdelta_arith")
    t.delete(col("k") % 50L === 0L)                              // v2: 8 rows
    t.update(col("k") === 13L, Map("v" -> (col("v") * 2.0)))     // v3: retag+add
    val v = t.latestVersion.get
    val es = t.entries(v)
    val meta = t.headerMeta(v)
    assert(meta.get("nf").map(_.toLong).contains(es.size.toLong))
    assert(meta.get("dvn").map(_.toLong).contains(es.map(_.dvCount).sum))
    assert(meta.get("nr").map(_.toLong)
      .contains(es.map(e => e.rows.get - e.dvCount).sum))
    val live = es.flatMap(_.dvRef).distinct.sorted
    val stated = meta.get("dvsv").toSeq.flatMap(_.split(",")).map(_.toLong)
    assert(live.forall(stated.contains),
      s"dvsv=$stated must cover live refs $live")
  }
}
