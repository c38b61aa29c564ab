package graft.acid

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets.UTF_8

/** Atomic multi-table commits ([[GraftTable.appendAtomic]]): one shared
  * decision marker makes N tables' appends all-or-nothing — crash
  * injection at every protocol point proves no half-committed pair is
  * ever readable, exactly-once txn stamps compose, and vacuum retires
  * decided markers. */
class MultiTableCommitSpec extends SparkSpec {
  import spark.implicits._

  private def df(r: Range) = r.map(i => (i.toLong, s"v$i")).toDF("k", "v")
  private def fs = new Path("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def withPatience[T](ms: Long)(body: => T): T = {
    spark.conf.set("spark.graft.acid.pendingPatienceMs", ms.toString)
    try body finally spark.conf.unset("spark.graft.acid.pendingPatienceMs")
  }

  test("happy path: both tables commit atomically with txn stamps") {
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_b"))
    ta.append(df(1 to 10))
    tb.append(df(101 to 110))
    val vs = GraftTable.appendAtomic(
      Seq((ta, df(11 to 15)), (tb, df(111 to 115))), txn = Some(("w", 7L)))
    assert(vs.size == 2)
    assert(ta.snapshot().count() == 15L)
    assert(tb.snapshot().count() == 15L)
    // the txn stamp landed in BOTH tables — the replay question answers
    // the same everywhere
    assert(ta.lastTxn("w").contains(7L) && tb.lastTxn("w").contains(7L))
    // fresh handles resolve the pending commits from disk alone
    assert(GraftTable.load(spark, ta.root).snapshot().count() == 15L)
    assert(GraftTable.load(spark, tb.root).snapshot().count() == 15L)
  }

  test("crash after ONE manifest: readers abort the txn, neither table moves") {
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_crash1a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_crash1b"))
    ta.append(df(1 to 10))
    tb.append(df(101 to 110))
    // simulate: the committer wrote A's pending manifest (with a txn
    // stamp) and DIED before B's manifest and before the marker
    val marker = new Path(s"${ta.root}/_log/_txn/crash1").toString
    val written = ta.writeData(df(11 to 15), ta.nextVersion)
    ta.commit(ta.nextVersion, ta.entries(ta.latestVersion.get) ++ written,
      op = "append", txn = Some(("w2", 9L)),
      pending = Some(GraftTable.b64(marker)))
    withPatience(150L) {
      // the first read waits out the patience window, then DECIDES abort
      assert(ta.snapshot().count() == 10L, "aborted txn must not be visible")
      assert(tb.snapshot().count() == 10L)
      // the marker now exists with decision 'a' — the crashed committer
      // can never finish
      val in = fs.open(new Path(marker))
      val decision = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                     finally in.close()
      assert(decision.startsWith("a"))
      // an aborted participant's txn stamp does NOT count as landed
      assert(ta.lastTxn("w2").isEmpty,
        "aborted epoch must replay, not be skipped")
      // a retry (the restarted committer) lands cleanly on both
      GraftTable.appendAtomic(Seq((ta, df(11 to 15)), (tb, df(111 to 115))),
        txn = Some(("w2", 9L)))
    }
    assert(ta.snapshot().count() == 15L)
    assert(tb.snapshot().count() == 15L)
    assert(ta.snapshot().as[(Long, String)].collect().count(_._1 == 11L) == 1,
      "exactly once after abort + retry")
    assert(ta.lastTxn("w2").contains(9L))
  }

  test("crash after BOTH manifests but before the marker: still atomic, still aborted") {
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_crash2a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_crash2b"))
    ta.append(df(1 to 10))
    tb.append(df(101 to 110))
    val marker = new Path(s"${ta.root}/_log/_txn/crash2").toString
    val wa = ta.writeData(df(11 to 15), ta.nextVersion)
    ta.commit(ta.nextVersion, ta.entries(ta.latestVersion.get) ++ wa,
      op = "append", pending = Some(GraftTable.b64(marker)))
    val wb = tb.writeData(df(111 to 115), tb.nextVersion)
    tb.commit(tb.nextVersion, tb.entries(tb.latestVersion.get) ++ wb,
      op = "append", pending = Some(GraftTable.b64(marker)))
    withPatience(150L) {
      // whichever table is read first decides; BOTH resolve identically
      assert(tb.snapshot().count() == 10L)
      assert(ta.snapshot().count() == 10L)
    }
    // decision is cached and permanent: later reads agree instantly
    assert(ta.snapshot().count() == 10L)
    assert(GraftTable.load(spark, tb.root).snapshot().count() == 10L)
  }

  test("crash AFTER the marker: the txn is committed everywhere, no recovery needed") {
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_crash3a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_crash3b"))
    ta.append(df(1 to 10))
    tb.append(df(101 to 110))
    val marker = new Path(s"${ta.root}/_log/_txn/crash3")
    val wa = ta.writeData(df(11 to 15), ta.nextVersion)
    ta.commit(ta.nextVersion, ta.entries(ta.latestVersion.get) ++ wa,
      op = "append", pending = Some(GraftTable.b64(marker.toString)))
    val wb = tb.writeData(df(111 to 115), tb.nextVersion)
    tb.commit(tb.nextVersion, tb.entries(tb.latestVersion.get) ++ wb,
      op = "append", pending = Some(GraftTable.b64(marker.toString)))
    val out = fs.create(marker, false)
    try out.write("c".getBytes(UTF_8)) finally out.close()
    // the committer died right after the atomic point: both visible
    assert(ta.snapshot().count() == 15L)
    assert(tb.snapshot().count() == 15L)
  }

  test("vacuum retires a decided marker once every participant manifest is gone") {
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_vac_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_vac_b"))
    ta.append(df(1 to 5))
    tb.append(df(101 to 105))
    GraftTable.appendAtomic(Seq((ta, df(6 to 8)), (tb, df(106 to 108))))
    val txnDir = new Path(s"${ta.root}/_log/_txn")
    assert(fs.listStatus(txnDir).nonEmpty)
    // while a participant manifest is retained, the marker must stay
    ta.vacuum(2) // keeps the pending manifest (A's newest)
    assert(fs.listStatus(txnDir).nonEmpty,
      "a marker with a retained participant manifest must survive")
    // age both tables past the txn versions, then vacuum both
    ta.append(df(9 to 9)); tb.append(df(109 to 109))
    tb.vacuum(1)
    ta.vacuum(1)
    assert(!fs.exists(txnDir) || fs.listStatus(txnDir).isEmpty,
      "a fully-unreferenced decided marker is reclaimed")
    assert(ta.snapshot().count() == 9L && tb.snapshot().count() == 9L)
  }

  test("a two-table foreachBatch pipeline is exactly-once across replay AND a mid-txn crash") {
    val raw = new GraftTable(spark, graft.TempDirs.create("graft_mt_pipe_raw"))
    val agg = new GraftTable(spark, graft.TempDirs.create("graft_mt_pipe_agg"))
    val writerId = "pipe1"
    def batchDf(b: Long) = ((b * 10) until (b * 10 + 10))
      .map(i => (i, s"b$b")).toDF("k", "tag")
    // the foreachBatch body a two-table pipeline runs: one atomic txn
    // per batch, replay short-circuited by the txn stamp (atomicity
    // means EITHER table answers the replay question for both)
    def land(batchId: Long): Unit = {
      if (raw.lastTxn(writerId).exists(_ >= batchId)) return
      GraftTable.appendAtomic(Seq(
        (raw, batchDf(batchId)),
        (agg, batchDf(batchId).groupBy($"tag").count())),
        txn = Some((writerId, batchId)))
      ()
    }
    land(0); land(0) // engine replay of a committed batch: no-op
    land(1)
    assert(raw.snapshot().count() == 20L && agg.snapshot().count() == 2L)
    // CRASH INJECTION: batch 2's txn dies after raw's pending manifest,
    // before the marker — on restart the replay guard must NOT treat the
    // aborted stamp as landed, and the retry lands exactly once
    val marker = new Path(s"${raw.root}/_log/_txn/pipecrash").toString
    val w = raw.writeData(batchDf(2L), raw.nextVersion)
    raw.commit(raw.nextVersion, raw.entries(raw.latestVersion.get) ++ w,
      op = "append", txn = Some((writerId, 2L)),
      pending = Some(GraftTable.b64(marker)))
    withPatience(150L) {
      land(2) // the restarted pipeline retries batch 2
    }
    assert(raw.snapshot().count() == 30L,
      "batch 2 exactly once despite the crashed first attempt")
    assert(agg.snapshot().count() == 3L)
    assert(raw.snapshot().as[(Long, String)].collect()
      .count(_._2 == "b2") == 10)
    land(2) // and a further replay is again a no-op
    assert(raw.snapshot().count() == 30L && agg.snapshot().count() == 3L)
  }

  test("mixed ops: append-to-A + DV-delete-in-B commit atomically, zero B rewrites") {
    import org.apache.spark.sql.functions.col
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_mix_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_mix_b"))
    ta.append(df(1 to 10))
    tb.append(df(101 to 110))
    val bFilesBefore = tb.activeFiles(tb.latestVersion.get).toSet
    val vs = GraftTable.commitAtomic(Seq(
      GraftTable.AtomicAppend(ta, df(11 to 15)),
      GraftTable.AtomicDelete(tb, col("k") === 105L)))
    assert(vs.size == 2)
    assert(ta.snapshot().count() == 15L)
    assert(tb.snapshot().count() == 9L)
    assert(tb.snapshot().filter(col("k") === 105L).isEmpty)
    // the delete took the merge-on-read path: same physical files, DV'd
    assert(tb.activeFiles(tb.latestVersion.get).toSet == bFilesBefore,
      "a small atomic delete must mask, not rewrite")
    // fresh handles resolve both pendings from disk alone
    assert(GraftTable.load(spark, ta.root).snapshot().count() == 15L)
    assert(GraftTable.load(spark, tb.root).snapshot().count() == 9L)
  }

  test("mixed-op crash matrix: append manifest out, delete unstaged -> both roll back") {
    import org.apache.spark.sql.functions.col
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_mixc_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_mixc_b"))
    ta.append(df(1 to 10))
    tb.append(df(101 to 110))
    // simulate: A's pending append manifest landed, committer died before
    // B's delete manifest and before the marker
    val marker = new Path(s"${ta.root}/_log/_txn/mixcrash").toString
    val w = ta.writeData(df(11 to 15), ta.nextVersion)
    ta.commit(ta.nextVersion, ta.entries(ta.latestVersion.get) ++ w,
      op = "append", pending = Some(GraftTable.b64(marker)))
    withPatience(150L) {
      assert(ta.snapshot().count() == 10L, "aborted append invisible")
      assert(tb.snapshot().count() == 10L, "the delete never happened")
      // the restarted committer retries the WHOLE mixed txn
      GraftTable.commitAtomic(Seq(
        GraftTable.AtomicAppend(ta, df(11 to 15)),
        GraftTable.AtomicDelete(tb, col("k") === 105L)))
    }
    assert(ta.snapshot().count() == 15L)
    assert(tb.snapshot().count() == 9L)
    assert(ta.snapshot().as[(Long, String)].collect().count(_._1 == 11L) == 1,
      "exactly once after abort + retry")
  }

  test("mixed ops: big delete falls back to pruned rewrite; merge and compact participate") {
    import org.apache.spark.sql.functions.col
    // dvMaxRows=3 forces the copy-on-write fallback for a 5-row delete
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_mix2_a"),
      dvMaxRows = 3)
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_mix2_b"))
    ta.append(df(1 to 10))
    tb.append(df(101 to 110))
    GraftTable.commitAtomic(Seq(
      GraftTable.AtomicDelete(ta, col("k") > 5L),
      GraftTable.AtomicMerge(tb, df(105 to 112), Seq("k"),
        Seq(col("v").desc))))
    assert(ta.snapshot().count() == 5L)
    assert(ta.entries(ta.latestVersion.get).forall(_.dvRef.isEmpty),
      "past dvMaxRows the delete must rewrite, not mask")
    assert(tb.snapshot().count() == 12L, "merge upserted 105..110, added 111..112")
    // compact as a participant (layout-only op riding a txn)
    GraftTable.commitAtomic(Seq(
      GraftTable.AtomicAppend(ta, df(11 to 12)),
      GraftTable.AtomicCompact(tb, targetFiles = 1)))
    assert(ta.snapshot().count() == 7L)
    assert(tb.snapshot().count() == 12L)
    assert(tb.activeFiles(tb.latestVersion.get).size == 1)
    assert(tb.history().last.op == "compact")
    // UPDATE participant, COW fallback (4 matching rows > dvMaxRows=3)
    GraftTable.commitAtomic(Seq(
      GraftTable.AtomicUpdate(ta, col("k") <= 4L,
        Map("v" -> org.apache.spark.sql.functions.lit("upd"))),
      GraftTable.AtomicAppend(tb, df(201 to 202))))
    assert(ta.snapshot().filter(col("v") === "upd").count() == 4L)
    assert(ta.snapshot().count() == 7L)
    assert(tb.snapshot().count() == 14L)
    assert(ta.history().last.op == "update")
  }

  test("AtomicMergeInto: full-semantics merge participates; crash rolls back, retry is exactly-once") {
    import org.apache.spark.sql.functions.col
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_mi_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_mi_b"))
    ta.append(df(1 to 10))
    tb.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "n"))
    // WHEN MATCHED UPDATE + WHEN NOT MATCHED INSERT over the __t_/__s_
    // disambiguated frame (the exact shape the SQL conversion emits)
    def mergeOp(src: org.apache.spark.sql.DataFrame) =
      GraftTable.AtomicMergeInto(tb, src,
        col("__t_k") === col("__s_k"),
        matched = Seq((None, Some(Map("n" -> col("__s_n"))))),
        notMatched = Seq((None, Map("k" -> col("__s_k"), "n" -> col("__s_n")))),
        notMatchedBySource = Nil)
    val src1 = Seq((2L, 200L), (3L, 300L)).toDF("k", "n")
    GraftTable.commitAtomic(Seq(
      GraftTable.AtomicAppend(ta, df(11 to 12)), mergeOp(src1)))
    assert(ta.snapshot().count() == 12L)
    assert(tb.snapshot().orderBy(col("k")).as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 200L), (3L, 300L)), "matched updated, unmatched inserted")
    assert(tb.history().last.op == "merge")
    // CRASH: the merge's pending manifest lands, the committer dies
    // before the marker — readers abort, tb does not move
    val marker = new Path(s"${tb.root}/_log/_txn/micrash").toString
    val pub = mergeOp(Seq((4L, 400L)).toDF("k", "n")).stage()
    pub(GraftTable.b64(marker))
    withPatience(150L) {
      assert(tb.snapshot().count() == 3L, "aborted merge invisible")
      assert(tb.snapshot().filter(col("k") === 4L).isEmpty)
      // the restarted committer retries the whole txn: exactly-once
      GraftTable.commitAtomic(Seq(
        GraftTable.AtomicAppend(ta, df(13 to 13)),
        mergeOp(Seq((4L, 400L)).toDF("k", "n"))))
    }
    assert(tb.snapshot().filter(col("k") === 4L).count() == 1L)
    assert(ta.snapshot().count() == 13L)
    // a staged merge publish refuses on a moved base; the txn re-stages
    val slow = mergeOp(Seq((5L, 500L)).toDF("k", "n"))
    val pub2 = slow.stage()
    tb.append(Seq((9L, 900L)).toDF("k", "n")) // base moves
    intercept[ConcurrentCommitException](pub2(GraftTable.b64(
      new Path(s"${tb.root}/_log/_txn/mimoved").toString)))
    GraftTable.commitAtomic(Seq(slow)) // re-stages internally, lands
    assert(tb.snapshot().filter(col("k") === 5L).count() == 1L)
    assert(tb.snapshot().count() == 6L)
  }

  test("nf/nr arithmetic after an ABORTED participant anchors on the effective parent") {
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_nf"))
    ta.append(df(1 to 10))                                          // v1
    // an aborted participant: pending manifest landed, marker never did
    val marker = new Path(s"${ta.root}/_log/_txn/nfabort").toString
    val w = ta.writeData(df(11 to 30), ta.nextVersion)
    ta.commit(ta.nextVersion, ta.entries(ta.latestVersion.get) ++ w,
      op = "append", pending = Some(GraftTable.b64(marker)))        // v2: abort
    // the next delta-first append must state the TRUE totals — not
    // inherit the aborted header's never-landed counts
    ta.append(df(31 to 35))                                         // v3
    val meta = ta.headerMeta(3L)
    val trueNf = ta.entries(3L).size.toLong
    assert(meta.get("nf").flatMap(_.toLongOption).contains(trueNf),
      s"nf must anchor on the effective parent: ${meta.get("nf")} vs $trueNf")
    assert(meta.get("nr").flatMap(_.toLongOption).contains(15L),
      s"nr must be 10 + 5, never counting the aborted 20: ${meta.get("nr")}")
    assert(ta.snapshot().count() == 15L)
  }

  test("vacuum reclaims an aborted txn's orphaned data files") {
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_orph_a"))
    ta.append(df(1 to 10))
    // crash: the pending manifest landed, the marker never did — the
    // staged data files are on disk, referenced only by the aborted
    // (no-op) version's manifest
    val marker = new Path(s"${ta.root}/_log/_txn/orphcrash").toString
    val w = ta.writeData(df(11 to 15), ta.nextVersion)
    ta.commit(ta.nextVersion, ta.entries(ta.latestVersion.get) ++ w,
      op = "append", pending = Some(GraftTable.b64(marker)))
    def partFiles(): Set[String] = {
      val dataDir = new Path(s"${ta.root}/data")
      (for (d <- fs.listStatus(dataDir); f <- fs.listStatus(d.getPath)
            if f.getPath.getName.startsWith("part-"))
        yield s"data/${d.getPath.getName}/${f.getPath.getName}").toSet
    }
    val orphanPaths = w.map(_.path).toSet
    assert(orphanPaths.subsetOf(partFiles()), "staged files are on disk")
    withPatience(150L) {
      assert(ta.snapshot().count() == 10L) // decides the abort
    }
    // vacuum keeps every real version, yet reclaims the aborted files
    val removed = ta.vacuum(retain = ta.versions.size).toSet
    assert(orphanPaths.subsetOf(removed),
      s"aborted txn's files must be reclaimed: removed=$removed")
    assert((partFiles() intersect orphanPaths).isEmpty,
      "zero orphans on disk after vacuum")
    assert(ta.snapshot().count() == 10L)
    assert(GraftTable.load(spark, ta.root).snapshot().count() == 10L,
      "cold resolution still healthy after the orphan sweep")
  }

  test("a staged delete publish refuses on a moved base; the txn re-stages and lands") {
    import org.apache.spark.sql.functions.col
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_restage_a"))
    ta.append(df(1 to 10))
    // stage the delete against base v1, then move the base underneath it
    val op = GraftTable.AtomicDelete(ta, col("k") === 5L)
    val publish = op.stage()
    ta.append(df(11 to 12)) // base is now v2
    val e = intercept[ConcurrentCommitException](publish("ZmFrZQ"))
    assert(e.getMessage.contains("base moved"), e.getMessage)
    assert(ta.versions == Seq(1L, 2L), "the stale publish must not commit")
    // the txn path re-stages transparently and lands against the new base
    GraftTable.commitAtomic(Seq(GraftTable.AtomicDelete(ta, col("k") === 5L)))
    assert(ta.snapshot().count() == 11L)
    assert(ta.snapshot().filter(col("k") === 5L).isEmpty)
    // same guard on updates
    val up = GraftTable.AtomicUpdate(ta, col("k") === 1L,
      Map("v" -> org.apache.spark.sql.functions.lit("x")))
    val pubU = up.stage()
    ta.append(df(13 to 13))
    intercept[ConcurrentCommitException](pubU("ZmFrZQ"))
  }

  test("overlapping concurrent txns on (A,B) and (B,C): no deadlock, nothing lost") {
    // the sorted-root lock order makes the shared-table case deadlock-free;
    // the marker protocol makes every txn all-or-nothing under the races
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_ham_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_ham_b"))
    val tc = new GraftTable(spark, graft.TempDirs.create("graft_mt_ham_c"))
    Seq(ta, tb, tc).foreach(_.append(df(1 to 2)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val rounds = 4
      def run(left: GraftTable, right: GraftTable, base: Int) =
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (0 until rounds).foreach { i =>
            GraftTable.commitAtomic(Seq(
              GraftTable.AtomicAppend(left, df(base + i to base + i)),
              GraftTable.AtomicAppend(right, df(base + 100 + i to base + 100 + i))))
          }
        })
      val f1 = run(ta, tb, 1000)
      val f2 = run(tb, tc, 2000)
      f1.get(60, java.util.concurrent.TimeUnit.SECONDS)
      f2.get(60, java.util.concurrent.TimeUnit.SECONDS)
    } finally pool.shutdown()
    // every append landed exactly once: 2 seed + 4 per participating txn
    assert(ta.snapshot().count() == 2L + 4L)
    assert(tb.snapshot().count() == 2L + 8L, "B participates in both txn streams")
    assert(tc.snapshot().count() == 2L + 4L)
    // cold handles agree (every pending resolved via its marker)
    assert(GraftTable.load(spark, tb.root).snapshot().count() == 10L)
  }

  test("a concurrent single-table append interleaves without breaking the txn") {
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_race_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_race_b"))
    ta.append(df(1 to 5))
    tb.append(df(101 to 105))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          GraftTable.appendAtomic(Seq((ta, df(6 to 10)), (tb, df(106 to 110))))
        }
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { ta.append(df(11 to 15)); () }
      })
      f1.get(); f2.get()
    } finally pool.shutdown()
    assert(ta.snapshot().count() == 15L)
    assert(tb.snapshot().count() == 10L)
  }

  test("snapshotsAtTxn pins every participant at its committed version, immune to later writes") {
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_pin_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_pin_b"))
    ta.append(df(1 to 5))
    tb.append(df(101 to 105))
    val (vs, txnId) = GraftTable.commitAtomicTxn(Seq(
      GraftTable.AtomicAppend(ta, df(6 to 8)),
      GraftTable.AtomicAppend(tb, df(106 to 108))))
    // participants land sorted by root — compare order-agnostically
    val parts = GraftTable.txnParticipants(spark, txnId).toMap
    assert(parts.keySet == Set(ta.root, tb.root) &&
      parts.values.toSet == vs.toSet, s"$parts vs $vs")
    // later single-table writes must NOT leak into the pinned read
    ta.append(df(9 to 9))
    tb.append(df(109 to 109))
    val pinned = GraftTable.snapshotsAtTxn(spark, txnId)
    assert(pinned(ta.root).count() == 8L && pinned(tb.root).count() == 8L,
      "the txn read must see exactly the transaction's state")
    // an ABORTED txn has no readable state to pin
    val markerDir = new Path(s"${ta.root}/_log/_txn")
    val aborted = new Path(markerDir, "spec_aborted_marker")
    val out = fs.create(aborted, false)
    out.write("a".getBytes(UTF_8)); out.close()
    val e = intercept[IllegalArgumentException](
      GraftTable.snapshotsAtTxn(spark, aborted.toString))
    assert(e.getMessage.contains("not committed"), e.getMessage)
  }

  test("SQL face: snapshot_at_txn TVF and DESCRIBE TXN pin participants, immune to later writes") {
    import org.apache.spark.sql.functions.col
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_sql_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_sql_b"))
    val (_, txnId) = GraftTable.commitAtomicTxn(Seq(
      GraftTable.AtomicAppend(ta, df(1 to 10)),
      GraftTable.AtomicAppend(tb, df(1 to 10))))
    // later writes the pin must ignore
    ta.append(df(11 to 20)); tb.append(df(11 to 30))
    // TVF + DESCRIBE TXN are extension grammar — a derived session
    val s2 = graft.GraftSession.withExtensions(spark)
    val joined = s2.sql(
      s"""SELECT count(*) AS n FROM snapshot_at_txn('${ta.root}', '$txnId') a
         |JOIN snapshot_at_txn('${tb.root}', '$txnId') b ON a.k = b.k""".stripMargin)
    assert(joined.collect().head.getLong(0) == 10L,
      "both sides pinned at the txn cut — later appends invisible")
    val parts = s2.sql(s"DESCRIBE TXN '$txnId'").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(parts == Map(ta.root -> 1L, tb.root -> 1L),
      s"DESCRIBE TXN must list every participant at its version: $parts")
    // a non-participant refuses loudly
    val tc = new GraftTable(spark, graft.TempDirs.create("graft_mt_sql_c"))
    tc.append(df(1 to 3))
    val e = intercept[Exception] {
      s2.sql(s"SELECT * FROM snapshot_at_txn('${tc.root}', '$txnId')")
        .collect()
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(e).contains("not a participant"))
    // catalog-identifier form resolves through the catalog root
    s2.conf.set("spark.sql.catalog.gmtx", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gmtx.root",
      new java.io.File(ta.root).getParent)
    val byRef = s2.sql(s"SELECT count(*) AS n FROM snapshot_at_txn(" +
      s"'gmtx.`${new java.io.File(ta.root).getName}`', '$txnId')")
    assert(byRef.collect().head.getLong(0) == 10L)
  }

  test("a commit storm: many racing readers converge with backoff, never the spin-out exception") {
    import org.apache.spark.sql.functions.{col, max}
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_storm_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_storm_b"))
    ta.append(df(0 to 0)); tb.append(df(0 to 0))
    withPatience(200L) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
      try {
        val writer = pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = (1 to 10).foreach { k =>
            try GraftTable.appendAtomic(Seq((ta, df(k to k)), (tb, df(k to k))))
            catch { case _: ConcurrentCommitException => () }
          }
        })
        // four readers cutting concurrently through the storm: each cut
        // must converge (bounded by wall-clock with jittered backoff,
        // not a tight 100-spin) and never split a pair
        val readers = (0 until 4).map(_ =>
          pool.submit(new java.util.concurrent.Callable[Int] {
            def call(): Int = {
              var bad = 0
              while (!writer.isDone) {
                val cut = GraftTable.consistentVersions(Seq(ta, tb))
                val ma = ta.snapshot(Some(cut(ta.root)))
                  .agg(max(col("k"))).head().getLong(0)
                val mb = tb.snapshot(Some(cut(tb.root)))
                  .agg(max(col("k"))).head().getLong(0)
                if (ma != mb) bad += 1
              }
              bad
            }
          }))
        writer.get()
        assert(readers.map(_.get()).sum == 0,
          "no cut may split an atomic pair, and none may spin out")
      } finally pool.shutdown()
    }
  }

  test("a reader racing an atomic pair never observes mixed versions through consistentSnapshots") {
    import org.apache.spark.sql.functions.{col, max}
    val ta = new GraftTable(spark, graft.TempDirs.create("graft_mt_race_a"))
    val tb = new GraftTable(spark, graft.TempDirs.create("graft_mt_race_b"))
    // seed both with k=0: every later txn appends the SAME k to both, so
    // ANY unsplit cut satisfies max(k in A) == max(k in B); a cut that
    // splits a txn breaks it
    ta.append(df(0 to 0)); tb.append(df(0 to 0))
    withPatience(200L) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val writer = pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            var landed = 0
            (1 to 12).foreach { k =>
              try {
                GraftTable.appendAtomic(Seq((ta, df(k to k)), (tb, df(k to k))))
                landed += 1
              } catch { case _: ConcurrentCommitException => () }
            }
            landed
          }
        })
        val readerBad = pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = {
            var bad = 0
            while (!writer.isDone) {
              val snaps = GraftTable.consistentSnapshots(Seq(ta, tb))
              val ma = snaps(ta.root).agg(max(col("k"))).head().getLong(0)
              val mb = snaps(tb.root).agg(max(col("k"))).head().getLong(0)
              if (ma != mb) bad += 1
            }
            bad
          }
        })
        val landed = writer.get()
        assert(readerBad.get() == 0,
          "a consistent cut must never split an atomic pair")
        assert(landed > 0, "at least some txns must land under the race")
        // quiesced: both tables hold every landed txn
        val snaps = GraftTable.consistentSnapshots(Seq(ta, tb))
        assert(snaps(ta.root).agg(max(col("k"))).head().getLong(0) ==
               snaps(tb.root).agg(max(col("k"))).head().getLong(0))
      } finally pool.shutdown()
    }
  }

  test("a cross-table CDC commit is delta-first: no participant materializes its entry list") {
    // r16 directive #5: participants that only add/remove/re-mask their
    // own entries publish delta manifests like single-table commits.
    // With parquet checkpoints + the distributed prune forced, the
    // whole stage+publish of an append-to-A + DV-delete-in-B txn (CDF
    // on — the cross-table CDC shape) must leave BOTH tables'
    // fullResolutions counters untouched: candidates resolve through
    // the distributed checkpoint scan, masks commit through
    // commitDelta's header arithmetic, and the untouched base is never
    // re-listed.
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.graft.acid.parquetCheckpointMinFiles", "1")
    spark.conf.set("spark.graft.acid.checkpointShards", "4")
    spark.conf.set("spark.graft.acid.distributedPruneMinFiles", "1")
    spark.conf.set("spark.graft.acid.writeChangeData", "true")
    try {
      val rootA = graft.TempDirs.create("graft_mt_cdc_a")
      val rootB = graft.TempDirs.create("graft_mt_cdc_b")
      locally { // seed via throwaway handles; the cold ones stay virgin
        new GraftTable(spark, rootA, statsCol = Some("k"),
          checkpointInterval = 1).append(df(1 to 10))
        new GraftTable(spark, rootB, statsCol = Some("k"),
          checkpointInterval = 1).append(df(101 to 140))
      }
      val ta = new GraftTable(spark, rootA, statsCol = Some("k"),
        checkpointInterval = 1)
      val tb = new GraftTable(spark, rootB, statsCol = Some("k"),
        checkpointInterval = 1)
      val base = (ta.fullResolutions.get(), tb.fullResolutions.get())
      GraftTable.commitAtomic(Seq(
        GraftTable.AtomicAppend(ta, df(11 to 15)),
        GraftTable.AtomicDelete(tb, col("k") <= 105L)))
      assert((ta.fullResolutions.get(), tb.fullResolutions.get()) == base,
        "a delta-first participant must not materialize the entry list " +
          s"(A: ${base._1} -> ${ta.fullResolutions.get()}, " +
          s"B: ${base._2} -> ${tb.fullResolutions.get()})")
      // both participant manifests declare themselves deltas
      Seq(ta, tb).foreach { t =>
        val head = scala.io.Source.fromInputStream(fs.open(new Path(
          t.root, f"_log/v${t.latestVersion.get}%020d.manifest")))
          .getLines().next()
        assert(head.contains("kind=delta"), s"${t.root}: $head")
      }
      // content + the CDC face both serve
      assert(ta.snapshot().count() == 15L)
      assert(tb.snapshot().count() == 35L)
      val feed = tb.changeFeed(1L, 2L)
      assert(feed.filter(col("_change") === "delete").count() == 5L)
    } finally {
      spark.conf.unset("spark.graft.acid.parquetCheckpointMinFiles")
      spark.conf.unset("spark.graft.acid.checkpointShards")
      spark.conf.unset("spark.graft.acid.distributedPruneMinFiles")
      spark.conf.unset("spark.graft.acid.writeChangeData")
    }
  }

  test("a scoped atomic MERGE INTO publishes a delta and plans survivors-only") {
    // The last O(table) participant path: the scoped merge used to
    // publish `keep ++ written` (a full manifest re-listing every
    // untouched entry) from a fully-materialized base. Now candidates
    // come from touchedEntries' distributed partition-window prune and
    // the manifest states only consumed+written — untouched partitions
    // carry by NOT being mentioned.
    import org.apache.spark.sql.functions.col
    spark.conf.set("spark.graft.acid.parquetCheckpointMinFiles", "1")
    spark.conf.set("spark.graft.acid.checkpointShards", "4")
    spark.conf.set("spark.graft.acid.distributedPruneMinFiles", "1")
    try {
      val root = graft.TempDirs.create("graft_mt_scoped_mi")
      locally {
        val seed = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 2L, 30L),
          (4L, 2L, 40L), (5L, 3L, 50L)).toDF("k", "p", "n")
        new GraftTable(spark, root, partitionCol = Some("p"),
          checkpointInterval = 1).append(seed)
      }
      val tb = new GraftTable(spark, root, partitionCol = Some("p"),
        checkpointInterval = 1)
      val filesBefore = tb.activeFiles(tb.latestVersion.get).toSet
      val base = tb.fullResolutions.get()
      val src = Seq((2L, 1L, 200L), (6L, 1L, 600L)).toDF("k", "p", "n")
      GraftTable.commitAtomic(Seq(GraftTable.AtomicMergeInto(tb, src,
        col("__t_p") === col("__s_p") && col("__t_k") === col("__s_k"),
        matched = Seq((None, Some(Map("n" -> col("__s_n"))))),
        notMatched = Seq((None, Map("k" -> col("__s_k"),
          "p" -> col("__s_p"), "n" -> col("__s_n")))),
        notMatchedBySource = Nil, scopeSrcCol = Some("p"))))
      assert(tb.fullResolutions.get() == base,
        "the scoped atomic merge must plan from the distributed " +
          s"partition prune, not the resident base ($base -> " +
          s"${tb.fullResolutions.get()})")
      val head = scala.io.Source.fromInputStream(fs.open(new Path(
        tb.root, f"_log/v${tb.latestVersion.get}%020d.manifest")))
        .getLines().next()
      assert(head.contains("kind=delta"), head)
      // only partition 1's file rewrote; partitions 2 and 3 carry
      val filesAfter = tb.activeFiles(tb.latestVersion.get).toSet
      assert((filesBefore intersect filesAfter).nonEmpty,
        "untouched partitions' files must carry verbatim")
      val got = GraftTable.load(spark, root).snapshot()
        .orderBy(col("k")).as[(Long, Long, Long)].collect().toSeq
      assert(got == Seq((1L, 1L, 10L), (2L, 1L, 200L), (3L, 2L, 30L),
        (4L, 2L, 40L), (5L, 3L, 50L), (6L, 1L, 600L)))
    } finally {
      spark.conf.unset("spark.graft.acid.parquetCheckpointMinFiles")
      spark.conf.unset("spark.graft.acid.checkpointShards")
      spark.conf.unset("spark.graft.acid.distributedPruneMinFiles")
    }
  }

  test("a standalone op and its participant write the same table (one planner, two publishers)") {
    import org.apache.spark.sql.functions.{col, lit}
    // each op runs standalone on one clone of a seed table and as a
    // one-op commitAtomic on a second clone: both clones list the seed's
    // files by the same absolute paths, so consumed files and masks
    // compare path for path; change data is on, so the persisted feeds
    // compare too
    final case class Case(name: String, partitioned: Boolean, dvMaxRows: Int,
                          standalone: GraftTable => Unit,
                          participant: GraftTable => GraftTable.AtomicOp)
    val set = Map("v" -> lit("u"))
    def upserts = Seq((3L, 3L, "m3"), (45L, 1L, "m45")).toDF("k", "p", "v")
    val cond = col("__t_p") === col("__s_p") && col("__t_k") === col("__s_k")
    val matched = Seq((None, Some(Map("v" -> col("__s_v")))))
    val inserts = Seq((None, Map("k" -> col("__s_k"), "p" -> col("__s_p"),
      "v" -> col("__s_v"))))
    val cases = Seq(
      Case("DV delete", false, 100000,
        _.delete(col("k") === 5L), GraftTable.AtomicDelete(_, col("k") === 5L)),
      Case("COW delete", false, 2,
        _.delete(col("k").between(3L, 12L)),
        GraftTable.AtomicDelete(_, col("k").between(3L, 12L))),
      Case("DV update", false, 100000,
        _.update(col("k") === 7L, set), GraftTable.AtomicUpdate(_, col("k") === 7L, set)),
      Case("COW update", false, 2,
        _.update(col("k") <= 15L, set), GraftTable.AtomicUpdate(_, col("k") <= 15L, set)),
      Case("key-scoped merge", false, 100000,
        _.merge(upserts, Seq("k"), Seq(col("v"))),
        GraftTable.AtomicMerge(_, upserts, Seq("k"), Seq(col("v")))),
      Case("scoped merge into", true, 100000,
        _.mergeIntoGeneral(upserts, cond, matched, inserts, Nil,
          scopedTouched = Some(Seq(1L, 3L))),
        GraftTable.AtomicMergeInto(_, upserts, cond, matched, inserts, Nil,
          scopeSrcCol = Some("p"))),
      Case("full merge into", false, 100000,
        _.mergeIntoGeneral(upserts, cond, matched, inserts, Nil),
        GraftTable.AtomicMergeInto(_, upserts, cond, matched, inserts, Nil)),
      Case("compact", false, 100000,
        _.compact(targetFiles = 2), GraftTable.AtomicCompact(_, targetFiles = 2)))
    spark.conf.set("spark.graft.acid.writeChangeData", "true")
    try cases.foreach { c =>
      def handle(root: String) =
        if (c.partitioned) new GraftTable(spark, root, partitionCol = Some("p"),
          dvMaxRows = c.dvMaxRows)
        else new GraftTable(spark, root, statsCol = Some("k"),
          dvMaxRows = c.dvMaxRows)
      val seed = handle(graft.TempDirs.create("graft_mt_twin_seed"))
      // four appends with disjoint key bands: the windows prune
      (0 until 4).foreach(b => seed.append((b * 10 + 1 to b * 10 + 10)
        .map(i => (i.toLong, (i % 4).toLong, s"v$i")).toDF("k", "p", "v")))
      val Seq(solo, txn) = Seq("solo", "txn").map { n =>
        val root = graft.TempDirs.create(s"graft_mt_twin_$n")
        seed.cloneTo(root)
        handle(root)
      }
      c.standalone(solo)
      GraftTable.commitAtomic(Seq(c.participant(txn)))
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toString).sorted.toSeq
      // the clone's own files (path -> masked rows) still listed after
      // the op: what it consumed is what is missing
      def carried(t: GraftTable) = {
        val base = t.entries(1L).map(_.path).toSet
        t.entries(2L).filter(e => base(e.path)).map(e => (e.path, e.dvCount))
          .sorted
      }
      assert(carried(solo) != solo.entries(1L).map(e => (e.path, e.dvCount)).sorted,
        s"${c.name}: the op must mask or consume seed files")
      assert(rows(solo.snapshot()) == rows(txn.snapshot()), s"${c.name}: snapshot")
      assert(carried(solo) == carried(txn), s"${c.name}: consumed files and masks")
      assert(solo.history().last.op == txn.history().last.op, c.name)
      assert(rows(solo.changeFeed(1L, 2L)) == rows(txn.changeFeed(1L, 2L)),
        s"${c.name}: change feed")
    } finally spark.conf.unset("spark.graft.acid.writeChangeData")
  }
}
