package graft.acid

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Model-based fuzz of the incremental commit log: a SEEDED random
  * sequence of mixed operations (append / appendUnique / DV-delete /
  * bulk COW delete / update / merge / replaceWhere / compact / zorder /
  * reorg / restore / vacuum / multi-table txns whose sibling participant
  * deletes, updates or merges) runs against both the table and a plain
  * in-memory
  * model; after every operation the snapshot must equal the model, and
  * periodically a FRESH handle (empty caches, resolution purely from the
  * on-disk delta chain + checkpoints + sidecars) must agree too. One
  * spec, every interaction the unit specs cover pairwise. */
class LogFuzzSpec extends SparkSpec {
  import spark.implicits._

  test("60 mixed commits: snapshot == model at every step, fresh handles agree") {
    runFuzz()
  }

  test("the same 60-commit model over PARQUET checkpoints (cold-handle parity)") {
    // force every checkpoint materialization (cadence + vacuum) into the
    // parquet form at its default single shard — the fuzz's fresh-handle
    // checks then resolve purely through parquet checkpoints + delta
    // chains instead of text ones
    spark.conf.set("spark.graft.acid.parquetCheckpointMinFiles", "1")
    try runFuzz()
    finally spark.conf.unset("spark.graft.acid.parquetCheckpointMinFiles")
  }

  test("the same 60-commit model over SIDECAR (incremental) checkpoints") {
    // every checkpoint goes through the parquet form at 4 shards, most
    // of them EXTENDING the previous one (reused shard dirs) — cold-
    // handle parity then proves the dirty-shard bookkeeping reconstructs
    // the exact entry set under every op mix, vacuum sweep and
    // crashed-txn no-op
    spark.conf.set("spark.graft.acid.parquetCheckpointMinFiles", "1")
    spark.conf.set("spark.graft.acid.checkpointShards", "4")
    try runFuzz()
    finally {
      spark.conf.unset("spark.graft.acid.parquetCheckpointMinFiles")
      spark.conf.unset("spark.graft.acid.checkpointShards")
    }
  }

  test("the same 60-commit model with sidecar checkpoints AND the distributed prune forced") {
    // the round-15 delta-first stack under maximum stress: every
    // checkpoint is a (mostly scoped) sidecar write, every predicate
    // resolution goes through the DISTRIBUTED checkpoint scan instead of
    // the resident entry list, and every append/scoped-rewrite publishes
    // through commitDelta — content parity at every step plus cold-handle
    // agreement proves the whole O(touched) path end to end
    spark.conf.set("spark.graft.acid.parquetCheckpointMinFiles", "1")
    spark.conf.set("spark.graft.acid.checkpointShards", "4")
    spark.conf.set("spark.graft.acid.distributedPruneMinFiles", "1")
    try runFuzz()
    finally {
      spark.conf.unset("spark.graft.acid.parquetCheckpointMinFiles")
      spark.conf.unset("spark.graft.acid.checkpointShards")
      spark.conf.unset("spark.graft.acid.distributedPruneMinFiles")
    }
  }

  test("the same 60-commit model with write-side change data on") {
    // every DML path persists its net changes (DV + rewrite netting +
    // atomic participants) — content invariance at every step proves the
    // change-file machinery never perturbs the data path, across rebases,
    // crashed txns, restores and vacuums of the change dirs
    spark.conf.set("spark.graft.acid.writeChangeData", "true")
    try runFuzz()
    finally spark.conf.unset("spark.graft.acid.writeChangeData")
  }

  private def runFuzz(): Unit = {
    val root = graft.TempDirs.create("graft_logfuzz")
    // dvPurgeRows WELL below what the delete mix accumulates: the
    // threshold auto-purge (reorg) interleaves with every other op and
    // the content must stay invariant across each firing
    val t = new GraftTable(spark, root, statsCol = Some("id"),
      bloomCol = Some("id"), indexCols = Seq("v"), checkpointInterval = 7,
      dvMaxRows = 40, dvPurgeRows = 10L)
    // deterministic in CI; GRAFT_FUZZ_SEED widens local exploration
    val seed = sys.env.get("GRAFT_FUZZ_SEED").flatMap(_.trim.toLongOption)
      .getOrElse(20260814L)
    val rnd = new scala.util.Random(seed)
    // model: id -> v (ids unique by construction of the ops below)
    val model = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    var nextId = 0L
    var restorePoint: Option[(Long, Map[Long, Long])] = None

    def df(rows: Seq[(Long, Long)]) = rows.toDF("id", "v")

    // SIBLING table for the mixed-op multi-table txn op (case 11):
    // append-to-t + a row-level op in sib must land atomically, and the
    // sibling's own model must hold at every step like the main one
    val sib = new GraftTable(spark, graft.TempDirs.create("graft_logfuzz_sib"),
      dvMaxRows = 40, dvPurgeRows = 10L)
    val sibModel = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
    var nextSibId = 10000040L
    locally {
      val rows = (1L to 40L).map(i => (10000000L + i, i))
      rows.foreach { case (k, v) => sibModel(k) = v }
      sib.append(df(rows))
    }
    def checkSib(label: String): Unit = {
      val got = sib.snapshot().as[(Long, Long)].collect().sorted.toSeq
      assert(got == sibModel.toSeq.sorted,
        s"$label: sibling diverged (got ${got.size}, want ${sibModel.size})")
    }

    var checks = 0
    def checkAgainst(handle: GraftTable, label: String): Unit = {
      val got = handle.snapshot().as[(Long, Long)].collect().sorted.toSeq
      val want = model.toSeq.sorted
      assert(got == want,
        s"$label diverged: got ${got.size} rows, want ${want.size}; " +
          s"missing=${(want.toSet -- got).take(5)} extra=${(got.toSet -- want).take(5)}")
      assert(handle.fastCount() == want.size.toLong, s"$label fastCount")
      // the auto-purge bound holds at every step: one DV commit may
      // overshoot the threshold by its own mask before the purge lands
      val masked = handle.latestVersion
        .map(v => handle.entries(v).map(_.dvCount).sum).getOrElse(0L)
      assert(masked <= 10L + 40L, s"$label: DV debt $masked past the purge bound")
      // sidecar coalescing invariant: however the DV commits interleave,
      // the active set never references more than MaxDvSidecars `.dvs`
      // sidecars (each DV commit folds the rest into its own when needed)
      val dvRefs = handle.latestVersion
        .map(v => handle.entries(v).flatMap(_.dvRef).distinct.size).getOrElse(0)
      assert(dvRefs <= GraftTable.MaxDvSidecars,
        s"$label: $dvRefs live dv sidecars exceed ${GraftTable.MaxDvSidecars}")
      // bloom point-lookup parity (sampled — a mis-sized adaptive-bloom
      // probe would false-negative a PRESENT key here first): one model
      // key must resolve exactly, one never-issued key must be empty
      checks += 1
      if (checks % 7 == 0 && model.nonEmpty) {
        val (k, v) = model.last
        assert(handle.snapshotPoint(k).as[(Long, Long)].collect().toSeq ==
          Seq((k, v)), s"$label: bloom point lookup missed present key $k")
        assert(handle.snapshotPoint(nextId + 1000000L).isEmpty,
          s"$label: absent-key point lookup returned rows")
      }
    }

    // fast reader-driven abort of fuzzed crashed txns (default 3 s)
    spark.conf.set("spark.graft.acid.pendingPatienceMs", "150")
    try fuzz()
    finally spark.conf.unset("spark.graft.acid.pendingPatienceMs")

    def fuzz(): Unit = {
    (1 to 60).foreach { step =>
      // every op below needs at least one commit; the first is an append
      (if (t.latestVersion.isEmpty) 0 else rnd.nextInt(13)) match {
        case 0 | 1 | 2 => // append a fresh batch
          val rows = (0 until 1 + rnd.nextInt(20)).map { _ =>
            nextId += 1; (nextId, rnd.nextLong(1000)) }
          rows.foreach { case (k, v) => model(k) = v }
          t.append(df(rows))
        case 3 => // appendUnique with half-overlap
          val existing = model.keys.take(5).toSeq
          val fresh = (0 until 3).map { _ => nextId += 1; nextId }
          val rows = (existing ++ fresh).map(k => (k, rnd.nextLong(1000)))
          rows.filter(r => fresh.contains(r._1))
            .foreach { case (k, v) => model(k) = v }
          t.appendUnique(df(rows), "id")
        case 4 => // small delete (DV path)
          val victims = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(5) + 1)
          victims.foreach(model.remove)
          if (victims.nonEmpty)
            t.delete(col("id").isin(victims.map(Long.box): _*))
        case 5 => // bulk delete (COW fallback when > dvMaxRows)
          val cut = nextId - rnd.nextInt(50)
          model.keys.filter(_ > cut).toSeq.foreach(model.remove)
          t.delete(col("id") > cut)
        case 6 => // update (DV or window-scoped)
          val victims = rnd.shuffle(model.keys.toSeq).take(rnd.nextInt(4))
          victims.foreach(k => model(k) = model(k) + 1000000L)
          if (victims.nonEmpty)
            t.update(col("id").isin(victims.map(Long.box): _*),
              Map("v" -> (col("v") + 1000000L)))
        case 7 => // merge upsert: mix of updates and inserts, LARGEST v wins
          val upd = rnd.shuffle(model.keys.toSeq).take(2)
            .map(k => (k, rnd.nextLong(1000) + 2000000L))
          val ins = (0 until 2).map { _ =>
            nextId += 1; (nextId, rnd.nextLong(1000)) }
          // the desc winner keeps the larger of (old, new) — mirror that
          (upd ++ ins).foreach { case (k, v) =>
            model(k) = math.max(model.getOrElse(k, Long.MinValue), v) }
          t.merge(df(upd ++ ins), Seq("id"), Seq(col("v").desc_nulls_last))
        case 8 => // layout ops: content must be invariant
          rnd.nextInt(4) match {
            case 0 => t.compact(targetFiles = 1 + rnd.nextInt(4))
            case 1 if model.nonEmpty => t.compactZOrderN(Seq("id", "v"), 4)
            case 2 if model.nonEmpty =>
              t.compactZOrderIncremental(Seq("id", "v"), 4)
            case _ => t.reorg()
          }
        case 10 => // CRASHED multi-table txn: a pending manifest with no
          // decision marker — the first later read aborts it and the
          // version must act as a NO-OP against every subsequent op,
          // checkpoint, vacuum and restore (model unchanged)
          val marker = new org.apache.hadoop.fs.Path(
            s"$root/_log/_txn/fuzzcrash$step").toString
          val rows = (0 until 3).map { _ => nextId += 1; (nextId, rnd.nextLong(1000)) }
          val w = t.writeData(df(rows), t.nextVersion)
          t.commit(t.nextVersion, t.entries(t.latestVersion.get) ++ w,
            op = "append", pending = Some(GraftTable.b64(marker)))
        case 11 => // MIXED-OP multi-table txn: append HERE + a row-level
          // participant in the SIBLING (delete, update or merge, drawn),
          // one atomic commit — both land or neither, and both models
          // must hold after the step
          val rows = (0 until 1 + rnd.nextInt(5)).map { _ =>
            nextId += 1; (nextId, rnd.nextLong(1000)) }
          val victims = rnd.shuffle(sibModel.keys.toSeq).take(rnd.nextInt(3))
          val pred =
            if (victims.isEmpty) lit(false)
            else col("id").isin(victims.map(Long.box): _*)
          val (sibOp, sibLanded) = rnd.nextInt(3) match {
            case 0 =>
              (GraftTable.AtomicDelete(sib, pred),
                () => victims.foreach(sibModel.remove))
            case 1 =>
              (GraftTable.AtomicUpdate(sib, pred,
                Map("v" -> (col("v") + 1000000L))),
                () => victims.foreach(k => sibModel(k) = sibModel(k) + 1000000L))
            case _ => // upsert, LARGEST v wins (the merge case above)
              val ups = victims.map(k => (k, rnd.nextLong(1000) + 2000000L)) ++
                (0 until 2).map { _ => nextSibId += 1; (nextSibId, rnd.nextLong(1000)) }
              (GraftTable.AtomicMerge(sib, df(ups), Seq("id"),
                Seq(col("v").desc_nulls_last)),
                () => ups.foreach { case (k, v) =>
                  sibModel(k) = math.max(sibModel.getOrElse(k, Long.MinValue), v) })
          }
          GraftTable.commitAtomic(Seq(GraftTable.AtomicAppend(t, df(rows)), sibOp))
          rows.foreach { case (k, v) => model(k) = v }
          sibLanded()
        case 12 => // selective atomic overwrite (replaceWhere): EVERY row
          // in a random id band leaves, a fresh in-band batch lands, one
          // commit — alternating the DV-mask and COW paths
          val hi = 1L + rnd.nextLong(math.max(1L, nextId))
          val lo = math.max(1L, hi - (5L + rnd.nextLong(40L)))
          val repl = rnd.shuffle((lo to hi).toList).take(rnd.nextInt(6))
            .map(k => (k, rnd.nextLong(1000) + 3000000L))
          model.keys.filter(k => k >= lo && k <= hi).toSeq
            .foreach(model.remove)
          repl.foreach { case (k, v) => model(k) = v }
          t.replaceWhere(col("id") >= lo && col("id") <= hi, df(repl),
            useDv = rnd.nextBoolean())
        case 9 => // restore to a remembered point, or remember one
          restorePoint match {
            case Some((v, snap)) if t.versions.contains(v) && rnd.nextBoolean() =>
              t.restore(v)
              model.clear(); snap.foreach { case (k, x) => model(k) = x }
              restorePoint = None
            case _ =>
              restorePoint = t.latestVersion.map(_ -> model.toMap)
          }
      }
      // merge with "newest wins" ordering can keep the OLD row when the
      // new v is smaller — the model above assumed new wins, so align:
      // we used desc ordering with +2000000 updates, making new rows win
      checkAgainst(t, s"step $step")
      checkSib(s"step $step")
      if (step % 12 == 0) {
        checkAgainst(GraftTable.load(spark, root), s"fresh handle @ step $step")
        t.vacuum(retain = 3)
        checkAgainst(t, s"post-vacuum @ step $step")
        if (restorePoint.exists(rp => !t.versions.contains(rp._1)))
          restorePoint = None
      }
    }
    // end-to-end: one more cold resolution from disk
    checkAgainst(GraftTable.load(spark, root), "final cold handle")
    }
  }
}
