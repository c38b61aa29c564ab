package graft.acid

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WRITE-SIDE change data for REWRITE-shaped commits (merge, copy-on-
  * write delete/update, replaceWhere past the DV bound) — the round-14
  * extension of the DV-path change files: the commit nets its written
  * files against its consumed files ONCE ([[GraftTable]]'s
  * rewriteChangeMeta) and persists the result under `_log/changes/`, so
  * a merge-heavy CDC deployment stops paying the per-consumer netting
  * recompute. Exactness contract is unchanged: the served feed must
  * hash-match the snapshot-diff semantics on every range it accepts,
  * including no-op-update cancellation. */
class MergeChangeDataSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "spark.graft.acid.writeChangeData"

  private def withCdf[A](body: => A): A = {
    spark.conf.set(Key, "true")
    try body finally spark.conf.unset(Key)
  }

  /** The SEMANTIC change feed (snapshot difference) — ground truth. */
  private def expectedFeed(t: GraftTable, fromV: Long, toV: Long): DataFrame = {
    val a = t.snapshot(Some(fromV))
    val b = t.snapshot(Some(toV))
    b.exceptAll(a).withColumn("_change", lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("_change", lit("delete")))
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def assertServed(t: GraftTable, fromV: Long, toV: Long): Unit = {
    assert(sortedRows(t.changeFeed(fromV, toV)) ==
      sortedRows(expectedFeed(t, fromV, toV)),
      s"served feed ($fromV,$toV] must hash-match the snapshot diff")
    val inputs = t.changeFeed(fromV, toV).inputFiles
    assert(inputs.forall(_.contains("/_log/changes/")),
      s"served feed must read only change files, got:\n${inputs.mkString("\n")}")
  }

  test("a key-scoped merge persists its net change; the feed serves it with zero base-file opens") {
    val root = graft.TempDirs.create("graft_cdf_merge_scoped")
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    t.append((1L to 100L).map(i => (i, s"n$i", i * 1.0)).toDF("id", "name", "v")
      .repartitionByRange(4, col("id")))                        // v1
    withCdf {
      // v2: upsert a low-id band — updates ids 1-5, inserts 101-102; the
      // scoped rewrite carries the untouched files verbatim
      t.merge(
        ((1L to 5L).map(i => (i, s"n$i", i + 500.0)) ++
          Seq((101L, "new101", 0.0), (102L, "new102", 0.0)))
          .toDF("id", "name", "v"),
        Seq("id"), Seq(col("v").desc))
    }
    assert(t.headerMeta(2L).contains("cdc"), "the merge must record change data")
    assertServed(t, 1L, 2L)
    // the persisted net is O(touched rows), not O(rewritten files):
    // exactly 5 updates x2 sides + 2 inserts = 12 change rows
    val n = spark.read.parquet(
      t.changeDirPath(t.headerMeta(2L)("cdc")).toString).count()
    assert(n == 12L, s"net change must hold 12 rows (5 del + 5+2 ins), got $n")
  }

  test("a full-table (unscoped) merge persists its net change too") {
    val root = graft.TempDirs.create("graft_cdf_merge_full")
    val t = new GraftTable(spark, root) // no statsCol: unscoped route
    t.append((1L to 50L).map(i => (i, i * 1.0)).toDF("id", "v"))   // v1
    withCdf {
      t.merge(Seq((1L, 999.0), (51L, 51.0)).toDF("id", "v"),
        Seq("id"), Seq(col("v").desc))                             // v2
    }
    assert(t.headerMeta(2L).contains("cdc"))
    assertServed(t, 1L, 2L)
  }

  test("MERGE INTO with update/delete/insert branches serves exactly, no-op updates cancel") {
    val root = graft.TempDirs.create("graft_cdf_merge_general")
    val t = new GraftTable(spark, root)
    t.append((1L to 40L).map(i => (i, i * 1.0)).toDF("id", "v"))   // v1
    withCdf {
      // matched & id<=5 -> update; matched & id>=35 -> delete;
      // matched 6..34 -> NO-OP update (v := v, must cancel in the net);
      // not matched -> insert
      val src = ((1L to 40L) ++ Seq(41L, 42L)).map(i => (i, i * 1.0))
        .toDF("sid", "sv")
      t.mergeIntoGeneral(src, col("__t_id") === col("__s_sid"),
        matched = Seq(
          (Some(col("__t_id") <= 5L), Some(Map("v" -> (col("__t_v") + 100.0)))),
          (Some(col("__t_id") >= 35L), None),
          (None, Some(Map("v" -> col("__t_v"))))),
        notMatched = Seq((None,
          Map("id" -> col("__s_sid"), "v" -> col("__s_sv")))),
        notMatchedBySource = Nil)                                  // v2
    }
    assert(t.headerMeta(2L).contains("cdc"))
    assertServed(t, 1L, 2L)
    // no-op rows must be ABSENT from the persisted net: 5 update pairs,
    // 6 deletes (35..40), 2 inserts = 5*2 + 6 + 2 = 18 rows
    val n = spark.read.parquet(
      t.changeDirPath(t.headerMeta(2L)("cdc")).toString).count()
    assert(n == 18L, s"no-op updates must cancel at write time, got $n rows")
  }

  test("an all-no-op rewrite records the cdc0 empty marker and serves empty") {
    val root = graft.TempDirs.create("graft_cdf_merge_noop")
    val t = new GraftTable(spark, root)
    t.append((1L to 30L).map(i => (i, i * 1.0)).toDF("id", "v"))   // v1
    withCdf {
      // re-merge the identical content: winner rows equal existing rows
      t.merge(t.snapshot(), Seq("id"), Seq(col("v").desc))         // v2
    }
    // the net is provably empty: either the explicit cdc0 marker (no
    // data files were emitted) or a cdc dir holding zero rows — both
    // serve the empty feed without opening any base data file
    val meta = t.headerMeta(2L)
    assert(meta.contains("cdc0") || meta.contains("cdc"),
      s"a zero-net rewrite must persist its (empty) change set, got ${meta.keySet}")
    assert(t.changeFeed(1L, 2L).isEmpty)
    assert(t.changeFeed(1L, 2L).inputFiles
      .forall(_.contains("/_log/changes/")),
      "a zero-net version must never re-open base data files")
  }

  test("COW update/delete past the DV bound persist change data") {
    val root = graft.TempDirs.create("graft_cdf_merge_cow")
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    t.append((1L to 200L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartitionByRange(4, col("id")))                           // v1
    withCdf {
      // dvMaxRows default is large; force COW with useDv = false
      t.update(col("id") <= 10L, Map("v" -> (col("v") + 1.0)),
        useDv = false)                                             // v2
      t.delete(col("id") > 190L, useDv = false)                    // v3
    }
    assert(t.headerMeta(2L).contains("cdc") || t.headerMeta(2L).contains("cdc0"))
    assert(t.headerMeta(3L).contains("cdc") || t.headerMeta(3L).contains("cdc0"))
    assertServed(t, 1L, 3L)
  }

  test("replaceWhere COW persists change data and serves exactly") {
    val root = graft.TempDirs.create("graft_cdf_merge_replw")
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    t.append((1L to 100L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartitionByRange(4, col("id")))                           // v1
    withCdf {
      t.replaceWhere(col("id") <= 20L,
        (1L to 10L).map(i => (i, -i * 1.0)).toDF("id", "v"),
        useDv = false)                                             // v2
    }
    assert(t.headerMeta(2L).contains("cdc"))
    assertServed(t, 1L, 2L)
  }

  test("atomic-txn participants persist change data; both tables' feeds serve") {
    val ra = graft.TempDirs.create("graft_cdf_merge_txn_a")
    val rb = graft.TempDirs.create("graft_cdf_merge_txn_b")
    val ta = new GraftTable(spark, ra)
    val tb = new GraftTable(spark, rb)
    ta.append((1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"))
    tb.append((1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"))
    withCdf {
      GraftTable.commitAtomic(Seq(
        GraftTable.AtomicMergeInto(ta,
          Seq((1L, 500.0), (21L, 21.0)).toDF("sid", "sv"),
          col("__t_id") === col("__s_sid"),
          matched = Seq((None, Some(Map("v" -> col("__s_sv"))))),
          notMatched = Seq((None,
            Map("id" -> col("__s_sid"), "v" -> col("__s_sv")))),
          notMatchedBySource = Nil),
        GraftTable.AtomicDelete(tb, col("id") >= 18L)))
    }
    for (t <- Seq(ta, tb)) {
      assert(t.headerMeta(2L).contains("cdc") || t.headerMeta(2L).contains("cdc0"),
        s"atomic participant at ${t.root} must persist change data")
      assertServed(t, 1L, 2L)
    }
  }

  test("merge change data under COLUMN MAPPING: a renamed table's feed serves in logical names") {
    val root = graft.TempDirs.create("graft_cdf_merge_cmap")
    val t0 = new GraftTable(spark, root, statsCol = Some("id"))
    t0.append((1L to 30L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartitionByRange(2, col("id")), mergeSchema = true)       // v1
    t0.renameColumn("v", "w")                                      // v2
    val t = GraftTable.load(spark, root)
    withCdf {
      t.merge(Seq((1L, 500.0), (31L, 31.0)).toDF("id", "w"),
        Seq("id"), Seq(col("w").desc))                             // v3
    }
    assert(t.headerMeta(3L).contains("cdc"))
    assertServed(t, 2L, 3L)
    val feed = t.changeFeed(2L, 3L)
    assert(feed.columns.toSeq == Seq("id", "w", "_change"),
      s"the served feed must speak LOGICAL names, got ${feed.columns.toSeq}")
    assert(feed.filter(col("_change") === "insert")
      .select("id").as[Long].collect().toSet == Set(1L, 31L))
  }

  test("changeFeedByVersion attributes each commit's net diff; served end-to-end with zero base-file opens") {
    val root = graft.TempDirs.create("graft_cdf_byver")
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    t.append((1L to 40L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartitionByRange(4, col("id")))                           // v1
    withCdf {
      t.merge(Seq((1L, 900.0), (41L, 41.0)).toDF("id", "v"),
        Seq("id"), Seq(col("v").desc))                             // v2
      t.delete(col("id") === 2L)                                   // v3: DV
    }
    val by = t.changeFeedByVersion(0L, 3L)
    // per-version attribution == the per-version range diffs
    for (v <- 1L to 3L) {
      assert(sortedRows(by.filter(col("_commit_version") === v)
        .drop("_commit_version", "_commit_timestamp")) ==
        sortedRows(t.changeFeed(v - 1, v)),
        s"version $v's attributed slice must equal its own range diff")
    }
    // commit timestamps ride the monotone ts= header
    val tss = by.select("_commit_version", "_commit_timestamp").distinct()
      .collect().sortBy(_.getLong(0)).map(_.getTimestamp(1).getTime)
    assert(tss.sorted.sameElements(tss), "attributed timestamps are monotone")
    // v2 (merge change files) + v3 (DV change files) serve without base
    // reads; v1 is the blind add (served from its own added files)
    val inputs = t.changeFeedByVersion(1L, 3L).inputFiles
    assert(inputs.nonEmpty && inputs.forall(_.contains("/_log/changes/")),
      s"the attributed feed past v1 must read only change files:\n${inputs.mkString("\n")}")
  }

  test("table_changes TVFs compose in SQL and equal the API feeds") {
    val root = graft.TempDirs.create("graft_cdf_tvf")
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    t.append((1L to 30L).map(i => (i, i * 1.0)).toDF("id", "v"))   // v1
    t.update(col("id") <= 5L, Map("v" -> (col("v") + 100.0)))      // v2
    val s2 = graft.GraftSession.withExtensions(spark)
    val viaTvf = s2.sql(
      s"SELECT id, v, _change FROM table_changes('$root', 1, 2)")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    val viaApi = t.changeFeed(1L, 2L).select("id", "v", "_change")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSet
    assert(viaTvf == viaApi && viaTvf.nonEmpty,
      "the TVF must serve the identical net diff")
    // composability: aggregate + join inside one SELECT
    val n = s2.sql(s"SELECT count(*) AS n FROM table_changes('$root', 1, 2) " +
      "WHERE _change = 'insert'").collect().head.getLong(0)
    assert(n == 5L)
    val byv = s2.sql("SELECT DISTINCT _commit_version FROM " +
      s"table_changes_by_version('$root', 0, 2)")
      .collect().map(_.getLong(0)).toSet
    assert(byv == Set(1L, 2L),
      s"the attributed TVF must tag each commit: $byv")
  }

  test("changeFeedByVersion refuses a range whose interior was vacuumed, naming the versions") {
    val root = graft.TempDirs.create("graft_cdf_byver_vac")
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    t.append((1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"))   // v1
    t.update(col("id") <= 3L, Map("v" -> (col("v") + 100.0)))      // v2
    t.append(Seq((21L, 21.0)).toDF("id", "v"))                     // v3
    t.vacuum(retain = 1)
    // (0, 3] now has a trimmed prefix: serving only v3's diff would
    // silently lose v1/v2 for a per-commit replay consumer
    val e = intercept[IllegalArgumentException] {
      t.changeFeedByVersion(0L, 3L)
    }
    assert(e.getMessage.contains("1,2") && e.getMessage.contains("retained"),
      s"the error must name the vacuumed versions: ${e.getMessage}")
    // the still-retained suffix serves normally
    assert(t.changeFeedByVersion(2L, 3L)
      .filter(col("_change") === "insert").count() == 1L)
  }

  test("the CDC mirror's own applyChangesKeyed commits persist change data (fan-out chains)") {
    val root = graft.TempDirs.create("graft_cdf_merge_mirror")
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    t.append((1L to 50L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartitionByRange(4, col("id")))                           // v1
    withCdf {
      t.applyChangesKeyed(
        Seq((3L, 333.0, "update_postimage"), (4L, 0.0, "delete"),
          (51L, 51.0, "insert")).toDF("id", "v", "_change"), "id") // v2
    }
    assert(t.headerMeta(2L).contains("cdc"),
      "the mirror apply must persist its net change")
    assertServed(t, 1L, 2L)
    // a second-hop mirror could now replay THIS table's keyed feed from
    // the persisted files alone
    val keyed = t.changeFeedKeyed(1L, 2L, Seq("id"))
    assert(keyed.filter(col("_change") === "update_postimage")
      .select("id").as[Long].collect().toSet == Set(3L))
    assert(keyed.filter(col("_change") === "delete")
      .select("id").as[Long].collect().toSet == Set(4L))
  }

  test("the streaming CDC feed over a merge-heavy table hash-matches the compute path") {
    def build(root: String): GraftTable = {
      val t = new GraftTable(spark, root, statsCol = Some("id"))
      t.append((1L to 80L).map(i => (i, i * 1.0)).toDF("id", "v")
        .repartitionByRange(4, col("id")))                         // v1
      t.merge(((1L to 6L).map(i => (i, i + 700.0)) :+ ((81L, 81.0)))
        .toDF("id", "v"), Seq("id"), Seq(col("v").desc))           // v2
      t.mergeIntoGeneral(Seq((2L, 0.0), (82L, 82.0)).toDF("sid", "sv"),
        col("__t_id") === col("__s_sid"),
        matched = Seq((None, None)), // matched -> DELETE
        notMatched = Seq((None,
          Map("id" -> col("__s_sid"), "v" -> col("__s_sv")))),
        notMatchedBySource = Nil)                                  // v3
      t
    }
    val rootOn = graft.TempDirs.create("graft_cdf_merge_stream_on")
    val rootOff = graft.TempDirs.create("graft_cdf_merge_stream_off")
    spark.conf.set(Key, "true")
    val on = try build(rootOn) finally spark.conf.unset(Key)
    val off = build(rootOff)
    assert(on.headerMeta(2L).contains("cdc") && on.headerMeta(3L).contains("cdc"))
    assert(!off.headerMeta(2L).contains("cdc"))
    def drain(t: GraftTable): Seq[String] = {
      val ckpt = graft.TempDirs.create("graft_cdf_merge_stream_ckpt")
      val seen = new java.util.concurrent.CopyOnWriteArrayList[String]()
      val q = spark.readStream.format("graft-table").option("path", t.root)
        .option("readChangeFeed", "true").option("changeFeedKeys", "id")
        .option("maxVersionsPerBatch", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.collect().map(_.toString).foreach(seen.add); () }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      seen.asScala.toSeq.sorted
    }
    assert(drain(on) == drain(off),
      "served and computed merge-CDC streams must deliver identical rows")
  }

  test("the keyed classification rides the served merge feed") {
    val root = graft.TempDirs.create("graft_cdf_merge_keyed")
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    t.append((1L to 60L).map(i => (i, i * 1.0)).toDF("id", "v")
      .repartitionByRange(4, col("id")))                           // v1
    withCdf {
      t.merge(((1L to 4L).map(i => (i, i + 900.0)) :+ ((61L, 61.0)))
        .toDF("id", "v"), Seq("id"), Seq(col("v").desc))           // v2
    }
    val keyed = t.changeFeedKeyed(1L, 2L, Seq("id"))
    assert(keyed.filter(col("_change") === "update_postimage")
      .select("id").as[Long].collect().toSet == (1L to 4L).toSet)
    assert(keyed.filter(col("_change") === "insert")
      .select("id").as[Long].collect().toSet == Set(61L))
  }
}
