package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The plugin surface: a session built with
  * spark.sql.extensions=graft.GraftExtensions must expose every graft
  * function to pure SQL with no Scala registration calls. */
class GraftExtensionsSpec extends AnyFunSuite {

  test("all graft functions resolve in SQL on an extensions-configured session") {
    // share the JVM's SparkContext but CREATE a distinct session so the
    // extensions actually apply (getOrCreate would return the shared
    // session, silently ignoring withExtensions)
    SparkSpec.session // ensure the shared context exists; create() reuses it
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    // NOTE: never s2.stop() here — it would stop the SHARED SparkContext
    // and kill every later suite; the extra session is harmless.
    val row = s2.sql(
      """SELECT
          |  web_mercator(CAST(-79.5857 AS DOUBLE), CAST(34.2655 AS DOUBLE)).x AS mx,
          |  size(kgram_hashes('abcdef', 3)) AS nk,
          |  dot_product(array(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)),
          |              array(CAST(3.0 AS DOUBLE), CAST(4.0 AS DOUBLE))) AS dp,
          |  sorted_jaccard(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
          |                 array(CAST(2 AS BIGINT), CAST(3 AS BIGINT))) AS j,
          |  simhash64(array(CAST(7 AS BIGINT))) AS sh,
          |  size(minhash_signature(array(CAST(7 AS BIGINT)), 8)) AS nm,
          |  size(shingle_hashes('a b c d', 3)) AS ns,
          |  size(word_hashes('a b c')) AS nw,
          |  zorder64(CAST(3 AS BIGINT), CAST(0 AS BIGINT)) AS z,
          |  size(span_hashes(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT),
          |                         CAST(3 AS BIGINT)), 2)) AS nsp,
          |  size(geodesic_ngon(CAST(-79.5857 AS DOUBLE), CAST(34.2655 AS DOUBLE),
          |                     CAST(100.0 AS DOUBLE), 8)) AS ng
          |""".stripMargin).head()
    assert(row.getDouble(0) == functions.WebMercator.R * -79.5857 * math.Pi / 180.0)
    assert(row.getInt(1) == 4)
    assert(row.getDouble(2) == 11.0)
    assert(row.getDouble(3) == 1.0 / 3.0)
    assert(row.getLong(4) == 7L)
    assert(row.getInt(5) == 8)
    assert(row.getInt(6) == 2)
    assert(row.getInt(7) == 3)
    assert(row.getLong(8) == functions.ZOrder64.interleave(3L, 0L))
    assert(row.getInt(9) == 2)
    assert(row.getInt(10) == 8)
    // the aggregate through pure SQL
    val top = s2.sql("SELECT mg_topk(w, 2) FROM VALUES ('a'), ('a'), ('b') AS t(w)")
      .head().getMap[String, Long](0)
    assert(top.get("a").contains(2L))
    // generator through pure SQL too
    val n = s2.sql(
      "SELECT explode_track(array(named_struct('a', 1), named_struct('a', 2)))").count()
    assert(n == 2)
  }

  test("maintenance SQL: OPTIMIZE ZORDER, DESCRIBE HISTORY, RESTORE, VACUUM") {
    SparkSpec.session
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    import s2.implicits._
    val wh = TempDirs.create("graft_maint_wh")
    s2.conf.set("spark.sql.catalog.gmaint", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gmaint.root", wh)
    val t = new graft.acid.GraftTable(s2, s"$wh/m", indexCols = Seq("x", "y"))
    t.append((0 until 512).map(i =>
      (i.toLong, ((i * 131) % 512).toLong, ((i * 191) % 512).toLong))
      .toDF("id", "x", "y").repartition(4))
    // OPTIMIZE ... ZORDER BY through plain SQL
    s2.sql("OPTIMIZE gmaint.m TARGET 8 FILES ZORDER BY (x, y)")
    val reloaded = graft.acid.GraftTable.load(s2, s"$wh/m")
    assert(reloaded.history().last.op == "zorder")
    assert(reloaded.snapshot().count() == 512L)
    // DESCRIBE HISTORY returns a real result set
    val ops = s2.sql("DESCRIBE HISTORY gmaint.m")
      .orderBy($"version").select($"operation").as[String].collect().toSeq
    assert(ops == Seq("append", "zorder"))
    // ... ZORDER BY (...) INCREMENTAL re-clusters only the tail: after a
    // scattered burst, the laid generation's files carry over verbatim
    val laid = reloaded.activeFiles(reloaded.latestVersion.get).toSet
    t.append((512 until 576).map(i =>
      (i.toLong, ((i * 131) % 512).toLong, ((i * 191) % 512).toLong))
      .toDF("id", "x", "y").coalesce(1))
    s2.sql("OPTIMIZE gmaint.m TARGET 8 FILES ZORDER BY (x, y) INCREMENTAL")
    val t4 = graft.acid.GraftTable.load(s2, s"$wh/m")
    assert(laid.subsetOf(t4.activeFiles(t4.latestVersion.get).toSet),
      "INCREMENTAL must carry the laid generation over verbatim")
    assert(t4.snapshot().count() == 576L)
    // RESTORE rolls back; VACUUM trims retention
    s2.sql("RESTORE gmaint.m TO VERSION AS OF 1")
    assert(graft.acid.GraftTable.load(s2, s"$wh/m").history().last.op == "restore")
    // DRY RUN lists the would-delete files as a result set and deletes
    // NOTHING; the real vacuum then removes exactly that list
    val wouldDelete = s2.sql("VACUUM gmaint.m RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0)).toSet
    assert(wouldDelete.nonEmpty, "the restore left dead files to report")
    val tDry = graft.acid.GraftTable.load(s2, s"$wh/m")
    assert(tDry.versions.size > 1, "DRY RUN must not trim versions")
    assert(tDry.snapshot().count() == 512L)
    s2.sql("VACUUM gmaint.m RETAIN 1 VERSIONS")
    assert(graft.acid.GraftTable.load(s2, s"$wh/m").versions.size == 1)
    assert(graft.acid.GraftTable.load(s2, s"$wh/m").snapshot().count() == 512L)
    // time-based retention: everything is newer than 1 hour -> no-op,
    // and a 0-hour cutoff still keeps the latest version
    val tm = new graft.acid.GraftTable(s2, s"$wh/tm")
    tm.append(Seq((1L, "a")).toDF("id", "v"))
    tm.append(Seq((2L, "b")).toDF("id", "v"))
    s2.sql("VACUUM gmaint.tm RETAIN 1 HOURS")
    assert(graft.acid.GraftTable.load(s2, s"$wh/tm").versions.size == 2,
      "commits inside the retention window must survive")
    s2.sql("VACUUM gmaint.tm RETAIN 0 HOURS")
    val tmAfter = graft.acid.GraftTable.load(s2, s"$wh/tm")
    assert(tmAfter.versions.size == 1 && tmAfter.snapshot().count() == 2L,
      "a zero-hour cutoff keeps exactly the latest version")
    // a non-graft reference falls through to Spark's parser (and errors)
    intercept[Exception] { s2.sql("OPTIMIZE nosuch.cat.table") }
    // CONVERT TO GRAFT adopts a plain parquet directory in place
    val cvRoot = TempDirs.create("graft_convert_sql")
    (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name")
      .coalesce(2).write.mode("overwrite").parquet(cvRoot)
    s2.sql(s"CONVERT TO GRAFT '$cvRoot' STATS BY id")
    val cv = graft.acid.GraftTable.load(s2, cvRoot)
    assert(cv.history().map(_.op) == Seq("convert"))
    assert(cv.snapshot().count() == 100L)
    assert(cv.filesForRange(1L, 10L).size <= 1, "STATS BY profiled windows")
    // DESCRIBE CHANGES = the change feed as a SQL result set
    val t2 = new graft.acid.GraftTable(s2, s"$wh/cf")
    t2.append(Seq((1L, "a")).toDF("id", "v"))
    t2.append(Seq((2L, "b")).toDF("id", "v"))
    val feed = s2.sql("DESCRIBE CHANGES gmaint.cf FROM 1 TO 2")
      .select($"id", $"_change").as[(Long, String)].collect().toSeq
    assert(feed == Seq((2L, "insert")), s"got $feed")
    // ... and KEYED BY classifies a changed key as an update PAIR
    import org.apache.spark.sql.catalyst.parser.ParseException
    t2.overwrite(Seq((1L, "a2"), (2L, "b")).toDF("id", "v")) // v3: id 1 changed
    val keyed = s2.sql("DESCRIBE CHANGES gmaint.cf FROM 2 TO 3 KEYED BY (id)")
      .select($"id", $"_change").as[(Long, String)].collect().toSeq.sorted
    assert(keyed == Seq((1L, "update_postimage"), (1L, "update_preimage")),
      s"got $keyed")
    intercept[ParseException](
      s2.sql("DESCRIBE CHANGES gmaint.cf FROM 2 TO 3 KEYED BY id"))
    // ... and BY VERSION attributes each commit's own net diff
    val byv = s2.sql("DESCRIBE CHANGES gmaint.cf FROM 1 TO 3 BY VERSION")
      .select($"id", $"_change", $"_commit_version")
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(byv == Seq((1L, "delete", 3L), (1L, "insert", 3L),
      (2L, "insert", 2L)), s"got $byv")
    // REORG ... APPLY (PURGE) materializes deletion vectors from SQL
    val t3 = new graft.acid.GraftTable(s2, s"$wh/rg")
    t3.append((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t3.delete($"id" === 5L) // DV commit
    assert(graft.acid.GraftTable.load(s2, s"$wh/rg")
      .entries(2L).exists(_.dvRef.isDefined))
    // DESCRIBE DETAIL: physical facts from manifest metadata alone —
    // including the masked-row count an operator reorgs on
    val det = s2.sql("DESCRIBE DETAIL gmaint.rg").collect().head
    assert(det.getAs[Long]("version") == 2L)
    assert(det.getAs[Long]("n_rows") == 19L)
    assert(det.getAs[Long]("dv_masked_rows") == 1L)
    assert(det.getAs[String]("last_operation") == "delete")
    s2.sql("REORG gmaint.rg APPLY (PURGE)")
    val purged = graft.acid.GraftTable.load(s2, s"$wh/rg")
    assert(purged.history().last.op == "reorg")
    assert(purged.entries(purged.latestVersion.get).forall(_.dvRef.isEmpty))
    assert(purged.snapshot().count() == 19L)
    assert(s2.sql("DESCRIBE DETAIL gmaint.rg").collect()
      .head.getAs[Long]("dv_masked_rows") == 0L)
  }

  test("the extension installs the DV rewrite itself, before any catalog use") {
    SparkSpec.session
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    import s2.implicits._
    // force the session's optimizer to build WITHOUT touching any graft
    // catalog: the injected-rule builder must have installed the rewrite
    // into extraOptimizations (the one batch that runs after V2 pushdown)
    s2.range(1).count()
    assert(s2.experimental.extraOptimizations
      .contains(graft.acid.GraftDvScanRewrite),
      "GraftExtensions must install GraftDvScanRewrite without catalog help")
    // and DV'd SQL reads work end to end on the extension session
    val wh = TempDirs.create("graft_dvext_wh")
    s2.conf.set("spark.sql.catalog.gdvext", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gdvext.root", wh)
    val t = new graft.acid.GraftTable(s2, s"$wh/t")
    t.append((0L until 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.delete(org.apache.spark.sql.functions.col("k") < 10L) // DV commit
    // sum forces a real scan (not the manifest-count shortcut), so the
    // mask must actually apply
    assert(s2.sql("SELECT sum(k) AS s FROM gdvext.t").as[Long].head() ==
      (10L until 100L).sum)
    assert(s2.sql("SELECT k FROM gdvext.t WHERE k < 12").as[Long]
      .collect().sorted.toSeq == Seq(10L, 11L))
  }

  test("OPTIMIZE ... INCREMENTAL without ZORDER BY is rejected loudly") {
    SparkSpec.session
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    import s2.implicits._
    val wh = TempDirs.create("graft_incr_guard_wh")
    s2.conf.set("spark.sql.catalog.gincr", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gincr.root", wh)
    val t = new graft.acid.GraftTable(s2, s"$wh/t", indexCols = Seq("x", "y"))
    t.append((0 until 64).map(i => (i.toLong, i.toLong, (63 - i).toLong))
      .toDF("id", "x", "y"))
    val e = intercept[org.apache.spark.sql.catalyst.parser.ParseException] {
      s2.sql("OPTIMIZE gincr.t INCREMENTAL")
    }
    assert(e.getMessage.contains("INCREMENTAL"))
    // the table was NOT full-compacted behind the user's back
    val after = graft.acid.GraftTable.load(s2, s"$wh/t")
    assert(after.history().map(_.op) == Seq("append"))
    // the valid form still works
    s2.sql("OPTIMIZE gincr.t TARGET 4 FILES ZORDER BY (x, y) INCREMENTAL")
    assert(graft.acid.GraftTable.load(s2, s"$wh/t").history().last.op == "zorder")
  }

  test("maintenance grammar rejects malformed tails instead of over-capturing") {
    SparkSpec.session
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    import s2.implicits._
    val wh = TempDirs.create("graft_grammar_wh")
    s2.conf.set("spark.sql.catalog.ggram", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.ggram.root", wh)
    val t = new graft.acid.GraftTable(s2, s"$wh/t")
    (1 to 5).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))

    import org.apache.spark.sql.catalyst.parser.ParseException
    // the r8 over-capture class: an unknown RETAIN unit must fail loudly,
    // never silently run a bare (keep-1) vacuum
    val e1 = intercept[ParseException](s2.sql("VACUUM ggram.t RETAIN 7 DAYS"))
    assert(e1.getMessage.contains("VERSIONS or HOURS"))
    assert(graft.acid.GraftTable.load(s2, s"$wh/t").versions.size == 5,
      "a rejected VACUUM must not have vacuumed")
    // trailing garbage is trailing garbage, not a broader match
    intercept[ParseException](s2.sql("VACUUM ggram.t RETAIN 2 VERSIONS PLEASE"))
    intercept[ParseException](s2.sql("OPTIMIZE ggram.t TARGET FILES"))
    intercept[ParseException](s2.sql("RESTORE ggram.t TO VERSION AS OF x"))
    intercept[ParseException](s2.sql("DESCRIBE CHANGES ggram.t FROM 1"))
    // a CLONE whose destination is NOT a graft identifier (and not a
    // '<path>' string) errors HERE with the real reason, instead of
    // falling through to Spark's parser and its unrelated syntax error
    val eClone = intercept[ParseException](
      s2.sql("CLONE ggram.t TO spark_catalog.default.nope"))
    assert(eClone.getMessage.contains("must be a graft-catalog table"),
      eClone.getMessage)
    assert(graft.acid.GraftTable.load(s2, s"$wh/t").versions.size == 5)
    // DESCRIBE HISTORY ... LIMIT n: newest first, bounded header reads
    val h = s2.sql("DESCRIBE HISTORY ggram.t LIMIT 2")
      .select($"version").as[Long].collect().toSeq
    assert(h == Seq(5L, 4L), s"newest-first bounded history: $h")
    // the well-formed statements still parse and run
    s2.sql("VACUUM ggram.t RETAIN 3 VERSIONS")
    assert(graft.acid.GraftTable.load(s2, s"$wh/t").versions.size == 3)
    // non-graft heads and tables still fall through to Spark's parser
    intercept[Exception](s2.sql("OPTIMIZE nosuch.cat.table"))
    assert(s2.sql("DESCRIBE ggram.t").count() > 0,
      "plain DESCRIBE stays Spark's statement")
    // HILBERT BY: the Hilbert-curve layout from SQL — runs, tags its
    // own op, keeps content; malformed tails error loudly
    val tH = graft.acid.GraftTable.load(s2, s"$wh/t")
    val nBefore = tH.snapshot().count()
    s2.sql("OPTIMIZE ggram.t TARGET 2 FILES HILBERT BY (k, v)")
    val tAfter = graft.acid.GraftTable.load(s2, s"$wh/t")
    assert(tAfter.history().last.op == "hilbert")
    assert(tAfter.snapshot().count() == nBefore)
    intercept[ParseException](s2.sql("OPTIMIZE ggram.t HILBERT BY (k)"))
    intercept[ParseException](
      s2.sql("OPTIMIZE ggram.t HILBERT BY (k, v) INCREMENTAL"))
  }

  test("OPTIMIZE ... WHERE compacts only the predicate-matching files") {
    SparkSpec.session
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    import s2.implicits._
    val wh = TempDirs.create("graft_optwhere_wh")
    s2.conf.set("spark.sql.catalog.gow", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gow.root", wh)
    val t = new graft.acid.GraftTable(s2, s"$wh/t", statsCol = Some("k"))
    // three disjoint key bands, 3 files each
    (0 to 2).foreach(b => t.append(
      (b * 1000 until b * 1000 + 300).map(i => (i.toLong, s"v$i"))
        .toDF("k", "v").repartition(3)))
    val before = t.entries(t.latestVersion.get)
    assert(before.size == 9)
    // the engine's own pruning witness (strict bounds relax to
    // inclusive — a boundary-touching file may conservatively rewrite)
    val selected = t.filesForPredicate($"k" < 1000L).toSet
    assert(selected.size >= 3 && selected.size < 9, s"selected $selected")
    val keepLines = before.filterNot(e => selected.contains(e.path)).map(_.line)
    s2.sql("OPTIMIZE gow.t TARGET 1 FILES WHERE k < 1000")
    val after = t.entries(t.latestVersion.get)
    // the matching files merged into one; everything else carried VERBATIM
    assert(after.size == 9 - selected.size + 1, s"got ${after.size} files")
    val afterLines = after.map(_.line).toSet
    keepLines.foreach(l => assert(afterLines.contains(l),
      "untouched files must carry over without rewrite"))
    assert(t.snapshot().count() == 900L)
    assert(t.snapshot().agg(org.apache.spark.sql.functions.sum($"k"))
      .head().getLong(0) ==
      (0 to 2).map(b => (b * 1000 until b * 1000 + 300).map(_.toLong).sum).sum)
    // WHERE does not compose with ZORDER (it would strip layout tags)
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      s2.sql("OPTIMIZE gow.t ZORDER BY (k, k2) WHERE k < 10"))
    // API form: a no-match predicate is a metadata-only no-op version
    val nNow = t.entries(t.latestVersion.get).size
    t.compactWhere($"k" > 100000L, targetFiles = 1)
    assert(t.entries(t.latestVersion.get).size == nNow)

    // DESCRIBE FILES: per-file manifest metadata as a result set —
    // zero data-file opens, one row per active file, windows populated
    val files = s2.sql("DESCRIBE FILES gow.t")
    assert(files.count() == nNow.toLong)
    assert(files.inputFiles.isEmpty, "DESCRIBE FILES must open no data")
    val row = files.orderBy($"stats_lo").collect().head
    assert(row.getAs[Long]("stats_lo") == 0L)
    assert(row.getAs[Long]("rows") > 0L)
    assert(!row.getAs[Boolean]("zordered"))
    // per-file NDV estimates (HLL sketches) surface per tracked column
    val ndv = row.getAs[Map[String, Long]]("ndv")
    assert(ndv.get("k").exists(_ > 0L), s"expected a k NDV estimate: $ndv")
    intercept[org.apache.spark.sql.catalyst.parser.ParseException](
      s2.sql("DESCRIBE FILES gow.t EXTRA"))
  }

  test("COMMIT ATOMIC: a two-statement SQL txn is all-or-nothing") {
    SparkSpec.session
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    import s2.implicits._
    val wh = TempDirs.create("graft_atomic_sql_wh")
    s2.conf.set("spark.sql.catalog.gtx", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gtx.root", wh)
    val raw = new graft.acid.GraftTable(s2, s"$wh/raw")
    val agg = new graft.acid.GraftTable(s2, s"$wh/agg")
    raw.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    agg.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "n"))
    // happy path: INSERT into raw + DELETE in agg, one atomic commit
    s2.sql("""COMMIT ATOMIC (
             |  INSERT INTO gtx.raw VALUES (3, 'c'), (4, 'd');
             |  DELETE FROM gtx.agg WHERE k = 2
             |)""".stripMargin)
    assert(s2.sql("SELECT count(*) AS n FROM gtx.raw").as[Long].head() == 4L)
    assert(s2.sql("SELECT count(*) AS n FROM gtx.agg").as[Long].head() == 1L)
    assert(raw.history().last.op == "append")
    assert(agg.history().last.op == "delete")
    // INSERT ... SELECT works as a participant too
    s2.sql("""COMMIT ATOMIC (
             |  INSERT INTO gtx.agg SELECT k, 99 FROM gtx.raw WHERE k = 3;
             |  DELETE FROM gtx.raw WHERE k = 1
             |)""".stripMargin)
    assert(s2.sql("SELECT count(*) AS n FROM gtx.raw").as[Long].head() == 3L)
    assert(s2.sql("SELECT sum(n) AS s FROM gtx.agg").as[Long].head() == 109L)
    // UPDATE participates too (merge-on-read: mask + updated copies)
    s2.sql("""COMMIT ATOMIC (
             |  UPDATE gtx.raw SET v = upper(v) WHERE k = 3;
             |  INSERT INTO gtx.agg VALUES (7, 700)
             |)""".stripMargin)
    assert(s2.sql("SELECT v FROM gtx.raw WHERE k = 3")
      .collect().head.getString(0) == "C")
    assert(s2.sql("SELECT sum(n) AS s FROM gtx.agg").as[Long].head() == 809L)
    assert(raw.history().last.op == "update")
    // a NON-GRAFT participant errors at parse with the real reason, and
    // nothing commits
    import org.apache.spark.sql.catalyst.parser.ParseException
    val before = (raw.versions.size, agg.versions.size)
    val e = intercept[ParseException](s2.sql(
      """COMMIT ATOMIC (
        |  INSERT INTO gtx.raw VALUES (9, 'x');
        |  DELETE FROM spark_catalog.default.other WHERE k = 1
        |)""".stripMargin))
    assert(e.getMessage.contains("must be a graft-catalog table"), e.getMessage)
    // a FAILING participant (delete on a commit-less table) aborts the
    // whole txn — the insert must not land either
    val empty = new graft.acid.GraftTable(s2, s"$wh/empty")
    val _ = empty // created but never committed
    intercept[Exception](s2.sql(
      """COMMIT ATOMIC (
        |  INSERT INTO gtx.raw VALUES (9, 'x');
        |  DELETE FROM gtx.`/nonexistent/graft/root` WHERE k = 1
        |)""".stripMargin))
    assert((raw.versions.size, agg.versions.size) == before,
      "a failed txn must leave every participant untouched")
    assert(s2.sql("SELECT count(*) AS n FROM gtx.raw WHERE k = 9")
      .as[Long].head() == 0L)
    // escaped quotes inside string literals must not mis-split the
    // raw-text scans: SQL doubled-quote form first ('it''s...' — the
    // ';' and parens inside the literal would tear the participant list
    // if the scan stopped at the inner quote; Spark 4's ANSI lexer reads
    // the intact token as an embedded quote)
    s2.sql("""COMMIT ATOMIC (
             |  INSERT INTO gtx.raw VALUES (10, 'it''s; (fine)');
             |  INSERT INTO gtx.agg VALUES (10, 1)
             |)""".stripMargin)
    assert(s2.sql("SELECT v FROM gtx.raw WHERE k = 10")
      .collect().head.getString(0) == "it's; (fine)")
    // ... and the backslash form, through the UPDATE SET/WHERE splitter
    s2.sql("""COMMIT ATOMIC (
             |  UPDATE gtx.raw SET v = 'a\'b); where c' WHERE k = 10
             |)""".stripMargin)
    assert(s2.sql("SELECT v FROM gtx.raw WHERE k = 10")
      .collect().head.getString(0) == "a'b); where c")
    // malformed participants error loudly
    intercept[ParseException](s2.sql("COMMIT ATOMIC ()"))
    intercept[ParseException](s2.sql(
      "COMMIT ATOMIC (MERGE INTO gtx.raw USING x ON a = b)"))
    intercept[ParseException](s2.sql(
      "COMMIT ATOMIC (UPDATE gtx.raw SET WHERE k = 1)"))
    intercept[ParseException](s2.sql(
      "COMMIT ATOMIC (INSERT INTO gtx.raw VALUES (1, 'a')) EXTRA"))
  }

  test("COMMIT ATOMIC: MERGE INTO participates with full ANSI semantics") {
    SparkSpec.session
    val s2 = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .create()
    import s2.implicits._
    val wh = TempDirs.create("graft_atomic_merge_wh")
    s2.conf.set("spark.sql.catalog.gtm", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gtm.root", wh)
    val raw = new graft.acid.GraftTable(s2, s"$wh/raw")
    val mir = new graft.acid.GraftTable(s2, s"$wh/mir")
    raw.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    mir.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "n"))
    // INSERT + MERGE pair: matched-update / not-matched-insert, one txn
    s2.sql("""COMMIT ATOMIC (
             |  INSERT INTO gtm.raw VALUES (3, 'c');
             |  MERGE INTO gtm.mir t
             |  USING (SELECT 2 AS k, 200 AS n
             |         UNION ALL SELECT 3 AS k, 300 AS n) s
             |  ON t.k = s.k
             |  WHEN MATCHED THEN UPDATE SET n = s.n
             |  WHEN NOT MATCHED THEN INSERT (k, n) VALUES (s.k, s.n)
             |)""".stripMargin)
    assert(s2.sql("SELECT count(*) AS c FROM gtm.raw").as[Long].head() == 3L)
    assert(s2.sql("SELECT k, n FROM gtm.mir ORDER BY k")
      .as[(Long, Long)].collect().toSeq ==
      Seq((1L, 10L), (2L, 200L), (3L, 300L)))
    assert(mir.history().last.op == "merge")
    // conditioned MATCHED delete + NOT MATCHED BY SOURCE participate too
    s2.sql("""COMMIT ATOMIC (
             |  MERGE INTO gtm.mir t
             |  USING (SELECT 3 AS k, 0 AS n) s
             |  ON t.k = s.k
             |  WHEN MATCHED AND t.n > 100 THEN DELETE
             |  WHEN NOT MATCHED BY SOURCE AND t.k = 1 THEN UPDATE SET n = -1
             |)""".stripMargin)
    assert(s2.sql("SELECT k, n FROM gtm.mir ORDER BY k")
      .as[(Long, Long)].collect().toSeq == Seq((1L, -1L), (2L, 200L)))
    // all-or-nothing: a failing sibling aborts the merge too
    val before = (raw.versions.size, mir.versions.size)
    intercept[Exception](s2.sql(
      """COMMIT ATOMIC (
        |  MERGE INTO gtm.mir t USING (SELECT 9 AS k, 900 AS n) s
        |  ON t.k = s.k
        |  WHEN NOT MATCHED THEN INSERT (k, n) VALUES (s.k, s.n);
        |  DELETE FROM gtm.`/nonexistent/graft/root` WHERE k = 1
        |)""".stripMargin))
    assert((raw.versions.size, mir.versions.size) == before,
      "a failed txn must leave every participant untouched")
    assert(s2.sql("SELECT count(*) AS c FROM gtm.mir WHERE k = 9")
      .as[Long].head() == 0L)
    // a non-graft MERGE target errors at parse with the real reason
    import org.apache.spark.sql.catalyst.parser.ParseException
    val e = intercept[ParseException](s2.sql(
      """COMMIT ATOMIC (
        |  MERGE INTO spark_catalog.default.other t
        |  USING (SELECT 1 AS k) s ON t.k = s.k
        |  WHEN MATCHED THEN DELETE
        |)""".stripMargin))
    assert(e.getMessage.contains("must be a graft-catalog table"), e.getMessage)
  }
}
