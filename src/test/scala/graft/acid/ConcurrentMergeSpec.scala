package graft.acid

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** Logical conflict detection for scoped mutations (the Delta
  * write-serializability rebase): concurrent writers on DISJOINT
  * partitions all land without recomputation — the race loser re-commits
  * its already-written files on the new base — while a genuine conflict
  * (same partition) still surfaces as ConcurrentCommitException for the
  * caller's recompute loop. */
class ConcurrentMergeSpec extends SparkSpec {
  import spark.implicits._

  private def events(n: Int) =
    (0 until n).map(i => (i.toLong, (i % 8).toLong, s"v$i", i.toLong))
      .toDF("id", "pid", "name", "seq")

  /** Data files on disk not referenced by any retained version — what a
    * recompute-after-lost-race leaves behind and a rebase must not. */
  private def orphans(t: GraftTable): Seq[String] = {
    val fs = new Path(t.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = t.versions.flatMap(t.activeFiles).toSet
    val dataDir = new Path(t.root, "data")
    if (!fs.exists(dataDir)) Nil
    else for {
      d <- fs.listStatus(dataDir).toSeq
      f <- fs.listStatus(d.getPath)
      rel = s"data/${d.getPath.getName}/${f.getPath.getName}"
      if f.getPath.getName.startsWith("part-") && !live.contains(rel)
    } yield rel
  }

  test("disjoint-partition merges race, both land, loser rebases without recompute") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_cmerge"),
      partitionCol = Some("pid"))
    t.append(events(64))
    // two writers, two DISJOINT partition sets, racing to the same version
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def upd(pid: Long, tag: String) =
      Seq((1000L + pid, pid, tag, 9999L)).toDF("id", "pid", "name", "seq")
    try {
      val fs = Seq((2L, "left"), (5L, "right")).map { case (pid, tag) =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            barrier.await()
            t.merge(upd(pid, tag), Seq("id"), Seq($"seq".desc))
          }
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
    // both merges committed as their own version
    assert(t.versions == Seq(1L, 2L, 3L), s"got ${t.versions}")
    assert(t.history().count(_.op == "merge") == 2)
    // both rows present plus the untouched base
    val snap = t.snapshot()
    assert(snap.count() == 66)
    assert(snap.filter($"name".isin("left", "right")).count() == 2)
    // the REBASE property: the loser's first (and only) data write is
    // referenced by its commit — a recompute would have orphaned it
    assert(orphans(t).isEmpty,
      s"rebase must reuse the loser's written files, orphans: ${orphans(t)}")
  }

  test("mergeScopedOn a secondary indexed column carries untouched files over") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_cmerge_sec"),
      indexCols = Seq("day"))
    // day is functionally determined by id (id div 100); disjoint day
    // bands per append keep the windows narrow
    def rows(day: Long) = (0L until 100L)
      .map(i => (day * 100 + i, day, s"v${day * 100 + i}", 0L))
      .toDF("id", "day", "name", "seq")
    (0L to 3L).foreach(d => t.append(rows(d)))
    val before = t.snapshot().inputFiles.toSet
    // merge touching only day=2
    val upd = Seq((205L, 2L, "updated", 9L)).toDF("id", "day", "name", "seq")
    t.mergeScopedOn("day", upd, Seq("id"), Seq($"seq".desc))
    val after = t.snapshot().inputFiles.toSet
    assert((before intersect after).nonEmpty,
      "files of untouched days must carry over verbatim")
    assert(t.snapshot().count() == 400)
    assert(t.snapshot().filter($"name" === "updated").count() == 1)
    assert(t.snapshot().filter($"id" === 205L).select($"name")
      .as[String].head() == "updated")
    // null scope value falls back to the full merge, still correct
    val updNull = Seq((7L, null.asInstanceOf[java.lang.Long], "nulled", 9L))
      .toDF("id", "day", "name", "seq")
      .select($"id", $"day".cast("long").as("day"), $"name", $"seq")
    t.mergeScopedOn("day", updNull, Seq("id"), Seq($"seq".desc))
    assert(t.snapshot().filter($"id" === 7L).select($"name")
      .as[String].head() == "nulled")
  }

  test("merge() AUTO-scopes through a windowed KEY column on an un-partitioned table") {
    // z-ordered, no partitionCol; (id, day) is the merge key and day is
    // windowed (indexCols) — a plain merge() must route itself through
    // the day windows: untouched days' files carry over verbatim, no
    // caller hint. Sound without any FD contract because day is part of
    // the key (out-of-window rows differ in a key component).
    val t = new GraftTable(spark, graft.TempDirs.create("graft_cmerge_auto"),
      indexCols = Seq("day", "x"))
    def rows(day: Long) = (0L until 100L)
      .map(i => (day * 100 + i, day, (i * 131) % 100, s"v${day * 100 + i}", 0L))
      .toDF("id", "day", "x", "name", "seq")
    (0L to 3L).foreach(d => t.append(rows(d)))
    t.compactZOrderN(Seq("day", "x"), targetFiles = 8)
    val before = t.snapshot().inputFiles.toSet
    val upd = Seq((205L, 2L, 5L, "updated", 9L), (999L, 2L, 7L, "fresh", 9L))
      .toDF("id", "day", "x", "name", "seq")
    t.merge(upd, Seq("id", "day"), Seq($"seq".desc))
    val after = t.snapshot().inputFiles.toSet
    assert((before intersect after).nonEmpty,
      "merge() must auto-scope on the windowed key column: untouched " +
        "days' files carry over verbatim")
    assert(t.snapshot().count() == 401)
    assert(t.snapshot().filter($"id" === 205L).select($"name")
      .as[String].head() == "updated")
    assert(t.snapshot().filter($"id" === 999L).select($"name")
      .as[String].head() == "fresh")
    assert(t.history().last.op == "merge")
  }

  test("disjoint AUTO-scoped merges race on an un-partitioned table; both land") {
    // the round-9 auto-scope path under concurrency: no partitionCol,
    // day ∈ keyCols is windowed — two writers merging DISJOINT days must
    // both land, the loser rebasing without recompute (disjoint windowed
    // scopes pass commitScopedWithRebase's conflict checks)
    val t = new GraftTable(spark, graft.TempDirs.create("graft_cmerge_autorace"),
      indexCols = Seq("day"))
    def rows(day: Long) = (0L until 100L)
      .map(i => (day * 100 + i, day, s"v${day * 100 + i}", 0L))
      .toDF("id", "day", "name", "seq")
    (0L to 3L).foreach(d => t.append(rows(d)))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def upd(day: Long, tag: String) =
      Seq((day * 100 + 5L, day, tag, 9999L)).toDF("id", "day", "name", "seq")
    try {
      val fs = Seq((1L, "left"), (3L, "right")).map { case (day, tag) =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            barrier.await()
            t.commitWithRetry()(t.merge(upd(day, tag), Seq("id", "day"),
              Seq($"seq".desc)))
          }
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
    assert(t.history().count(_.op == "merge") == 2)
    val snap = t.snapshot()
    assert(snap.count() == 400)
    assert(snap.filter($"name".isin("left", "right")).count() == 2)
    assert(snap.filter($"id" === 105L).select($"name").as[String].head() == "left")
    assert(snap.filter($"id" === 305L).select($"name").as[String].head() == "right")
  }

  test("same-partition merges conflict; commitWithRetry recomputes correctly") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_cmerge_conf"),
      partitionCol = Some("pid"))
    t.append(events(64))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def upd(id: Long, tag: String) =
      Seq((id, 3L, tag, 9000L + id)).toDF("id", "pid", "name", "seq")
    try {
      val fs = Seq((2000L, "one"), (2001L, "two")).map { case (id, tag) =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            barrier.await()
            // same partition 3: one writer must detect the logical
            // conflict and recompute through the retry loop
            t.commitWithRetry() { t.merge(upd(id, tag), Seq("id"), Seq($"seq".desc)) }
          }
        })
      }
      fs.foreach(_.get())
    } finally pool.shutdown()
    assert(t.versions == Seq(1L, 2L, 3L), s"got ${t.versions}")
    val snap = t.snapshot()
    assert(snap.count() == 66)
    assert(snap.filter($"name".isin("one", "two")).count() == 2,
      "both conflicting merges must eventually land")
  }

  test("a plan that lists its base publishes at that base + 1: a racing commit is never dropped") {
    // plan a window-scoped copy-on-write delete and a compact, land an
    // append in between, then publish: the plan either rebases (the
    // racer's rows survive) or collides loudly — it must never publish
    // a list that silently drops the racer's files
    val t = new GraftTable(spark, graft.TempDirs.create("graft_cmerge_pin"),
      statsCol = Some("id"))
    (0 until 4).foreach(b =>
      t.append(events(40).filter($"id" >= b * 10 && $"id" < b * 10 + 10)))
    val plans = Seq(t.planDelete($"id" < 10L, useDv = false),
      t.planCompact(targetFiles = 2))
    plans.zipWithIndex.foreach { case (plan, i) =>
      val racer = Seq((9000L + i, 1L, "racer", 0L)).toDF("id", "pid", "name", "seq")
      t.append(racer)
      try t.commitPlan(plan)
      catch { case _: ConcurrentCommitException => () }
      assert(t.snapshot().filter($"name" === "racer").count() == i + 1L,
        s"${plan.op}: the racing append's rows must survive")
    }
  }

  test("a change apply publishes at its planned base + 1: a racing write to a touched key collides") {
    // plan a keyed mirror apply and an aggregate fold, land a write for
    // a key each touches in between, then publish: the apply must
    // collide instead of leaving the racer's row live next to its own
    // (two rows for one key) or folding over a group it never read
    val t = new GraftTable(spark, graft.TempDirs.create("graft_cmerge_keyed"),
      statsCol = Some("id"))
    t.append(events(10))
    val keyed = t.planApplyKeyed(t.latestVersion.get,
      Seq((3L, 3L, "applied", 1L, "update_postimage")).toDF(
        "id", "pid", "name", "seq", "_change"), "id")
    t.append(Seq((3L, 3L, "racer", 2L)).toDF("id", "pid", "name", "seq"))
    intercept[ConcurrentCommitException](t.commitPlan(keyed))
    assert(t.snapshot().filter($"id" === 3L).as[(Long, Long, String, Long)]
      .collect().map(_._3).sorted.toSeq == Seq("racer", "v3"),
      "the racing append's row must survive the lost apply")

    val m = new GraftTable(spark, graft.TempDirs.create("graft_cmerge_agg"))
    def feed(g: String, v: Double) = Seq((g, v, "insert")).toDF("g", "v", "_change")
    m.applyChangesAgg(feed("a", 1.0), "g", Seq("v"))
    val fold = m.planApplyAgg(m.latestVersion.get, feed("a", 10.0), "g",
      Seq("v"), txn = Some(("w", 1L)))
    m.applyChangesAgg(feed("a", 100.0), "g", Seq("v"), txn = Some(("racer", 1L)))
    intercept[ConcurrentCommitException](m.commitPlan(fold))
    // the lost fold recorded nothing: its retry lands on the racer's sum
    m.applyChangesAgg(feed("a", 10.0), "g", Seq("v"), txn = Some(("w", 1L)))
    assert(m.snapshot().as[(String, Long, BigDecimal)].collect().toSeq
      .map(r => (r._1, r._2, r._3.toDouble)) == Seq(("a", 3L, 111.0)))

    // a replay of the SAME txn landing between plan and publish: the
    // planned fold collides instead of applying the group's deltas a
    // second time, and a later replay sees the txn at its pinned base
    val again = m.planApplyAgg(m.latestVersion.get, feed("a", 1000.0), "g",
      Seq("v"), txn = Some(("w", 2L)))
    val landed = m.applyChangesAgg(feed("a", 1000.0), "g", Seq("v"),
      txn = Some(("w", 2L)))
    intercept[ConcurrentCommitException](m.commitPlan(again))
    assert(m.applyChangesAgg(feed("a", 1000.0), "g", Seq("v"),
      txn = Some(("w", 2L))) == landed, "a recorded txn must be a no-op")
    assert(m.snapshot().as[(String, Long, BigDecimal)].collect().toSeq
      .map(r => (r._1, r._2, r._3.toDouble)) == Seq(("a", 4L, 1111.0)))
  }

  test("two ALTERs from handles opened at the same version: the second fails or keeps the first's change") {
    val root = graft.TempDirs.create("graft_cmerge_alter")
    new GraftTable(spark, root).append(events(4))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try (0 until 6).foreach { i =>
      val handles = Seq(new GraftTable(spark, root), new GraftTable(spark, root))
      val barrier = new java.util.concurrent.CyclicBarrier(2)
      val cols = Seq(s"a$i", s"b$i")
      val landed = handles.zip(cols).map { case (h, c) =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          override def call(): Boolean = {
            barrier.await()
            try { h.addColumn(c, org.apache.spark.sql.types.LongType); true }
            catch { case _: ConcurrentCommitException => false }
          }
        })
      }.map(_.get())
      val schema = new GraftTable(spark, root).tableSchema.get.fieldNames.toSet
      cols.zip(landed).foreach { case (c, ok) =>
        assert(schema.contains(c) == ok,
          s"round $i: $c landed=$ok but the latest schema is $schema")
      }
    } finally pool.shutdown()
  }
}
