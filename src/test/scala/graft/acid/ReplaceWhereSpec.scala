package graft.acid

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Selective atomic overwrite ([[GraftTable.replaceWhere]], the public
  * Delta `INSERT INTO ... REPLACE WHERE` contract): ONE commit removes
  * the predicate's rows and lands the replacement — scoped (index-pruned
  * files carry over verbatim), validated (out-of-scope incoming rows
  * refuse loudly), CDC-served when change files are on, and row-id
  * minting on row-tracking tables. */
class ReplaceWhereSpec extends SparkSpec {
  import spark.implicits._

  /** Three range-clustered commits (ids 1-40 / 41-80 / 81-120) on an
    * id-stats table — the shape whose manifest windows prune a
    * range-predicate replace to the first commit's files only. */
  private def seed(root: String): GraftTable = {
    val t = new GraftTable(spark, root, statsCol = Some("id"))
    Seq(1L to 40L, 41L to 80L, 81L to 120L).foreach(r =>
      t.append(r.map(i => (i, s"n$i", i * 1.0)).toDF("id", "name", "v")))
    t
  }

  private def rows(df: DataFrame): Set[(Long, String, Double)] =
    df.select($"id", $"name", $"v").as[(Long, String, Double)].collect().toSet

  /** After replaceWhere(id <= 25, R-rows 1-20): EVERY predicate-matching
    * row leaves (ids 1-25, including 21-25 the replacement doesn't
    * restate — that is the overwrite, not an upsert), the replacement
    * lands. */
  private def expected: Set[(Long, String, Double)] =
    (26L to 120L).map(i => (i, s"n$i", i * 1.0)).toSet ++
      (1 to 20).map(i => (i.toLong, "R", -1.0)).toSet

  test("one commit replaces exactly the predicate's rows; untouched files carry verbatim") {
    val t = seed(graft.TempDirs.create("graft_rw_basic"))
    val prevLines = t.entries(3L).map(_.line).toSet
    val repl = (1 to 20).map(i => (i.toLong, "R", -1.0)).toDF("id", "name", "v")
    // id <= 25 cuts MID-FILE through commit 1 (files of ~10 ids): the
    // 21-30 file must mask, not rewrite; commits 2-3 are window-pruned
    val v = t.replaceWhere($"id" <= 25L, repl)
    assert(v == 4L && t.versions == (1L to 4L), "exactly one new version")
    assert(rows(t.snapshot()) == expected)
    assert(t.history().last.op == "replaceWhere")
    // DV path scoping: commits 2-3 (ids 41-120) are predicate-free by
    // their windows — their entry LINES carry over byte-identical; the
    // partially-matched candidate files stay active (masked, not
    // rewritten)
    val now = t.entries(4L)
    val carried = now.map(_.line).toSet.intersect(prevLines)
    assert(carried.size >= 2, "window-pruned files must carry over verbatim")
    assert(now.exists(e => e.dvRef.isDefined && prevLines.exists(_.startsWith(e.path))),
      "candidate files mask via DV, they do not rewrite")
  }

  test("incoming rows outside the predicate refuse loudly, nothing commits") {
    val t = seed(graft.TempDirs.create("graft_rw_guard"))
    val bad = Seq((5L, "R", -1.0), (55L, "R", -1.0)).toDF("id", "name", "v")
    val e = intercept[IllegalArgumentException] {
      t.replaceWhere($"id" <= 40L, bad)
    }
    assert(e.getMessage.contains("must satisfy the predicate"))
    assert(t.versions == (1L to 3L), "a refused replace must not commit")
  }

  test("a non-deterministic replacement is pinned to one evaluation: validation == what lands") {
    val t = seed(graft.TempDirs.create("graft_rw_nondet"))
    // rand() re-rolls on every evaluation: an unpinned path could pass
    // the containment check on one draw and write a different draw's
    // (possibly out-of-scope) rows. Pinned, the written ids must be a
    // subset of the predicate AND exactly match what validation saw.
    val repl = spark.range(1, 21)
      .select((col("id") % 25L + 1L).as("id"), lit("R").as("name"),
        rand(7).as("v"))
      .filter(rand() >= 0.0) // keep a nondeterministic operator in the plan
    t.replaceWhere($"id" <= 25L, repl)
    val landed = t.snapshot().filter($"name" === "R")
    assert(landed.filter($"id" > 25L).isEmpty,
      "no out-of-scope row may land after validation passed")
    assert(t.snapshot().filter($"id" <= 25L).count() == landed.count(),
      "every surviving in-scope row is from the replacement")
  }

  test("copy-on-write fallback (useDv = false) lands the same content") {
    val t = seed(graft.TempDirs.create("graft_rw_cow"))
    val prevLines = t.entries(3L).map(_.line).toSet
    val repl = (1 to 20).map(i => (i.toLong, "R", -1.0)).toDF("id", "name", "v")
    t.replaceWhere($"id" <= 25L, repl, useDv = false)
    assert(rows(t.snapshot()) == expected)
    // scoped COW: pruned files carry, candidate files leave the active set
    val now = t.entries(4L)
    assert(now.map(_.line).toSet.intersect(prevLines).size >= 2)
    assert(now.forall(e => e.dvRef.isEmpty), "COW masks nothing")
  }

  test("with change files on, the feed serves the replace from change data only") {
    spark.conf.set("spark.graft.acid.writeChangeData", "true")
    try {
      val t = seed(graft.TempDirs.create("graft_rw_cdf"))
      val repl = (1 to 20).map(i => (i.toLong, "R", -1.0)).toDF("id", "name", "v")
      t.replaceWhere($"id" <= 40L, repl)
      assert(t.headerMeta(4L).contains("cdc"), "the commit must persist change data")
      val feed = t.changeFeed(3L, 4L)
      val inputs = feed.inputFiles
      assert(inputs.nonEmpty && inputs.forall(_.contains("/_log/changes/")),
        s"served feed must read only change files, got:\n${inputs.mkString("\n")}")
      // exactness: served == snapshot diff
      val a = t.snapshot(Some(3L))
      val b = t.snapshot(Some(4L))
      val semantic = b.exceptAll(a).withColumn("_change", lit("insert"))
        .unionByName(a.exceptAll(b).withColumn("_change", lit("delete")))
      assert(feed.collect().map(_.toString).sorted.toSeq ==
        semantic.collect().map(_.toString).sorted.toSeq)
    } finally spark.conf.unset("spark.graft.acid.writeChangeData")
  }

  test("row-tracking tables mint fresh unique ids for the replacement") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_rw_rt"),
      statsCol = Some("id"), rowTracking = true)
    t.append((1L to 60L).map(i => (i, s"n$i")).toDF("id", "name"))
    val before = t.snapshot().select("_row_id").as[Long].collect().toSet
    t.replaceWhere($"id" <= 20L,
      (1 to 20).map(i => (i.toLong, "R")).toDF("id", "name"))
    val snap = t.snapshot()
    val ids = snap.select("_row_id").as[Long].collect()
    assert(ids.length == 60 && ids.distinct.length == 60, "ids stay unique")
    val minted = snap.filter($"name" === "R").select("_row_id")
      .as[Long].collect().toSet
    assert(minted.size == 20 && minted.intersect(before).isEmpty,
      "replacement rows mint NEW ids above the watermark")
    assert(before.intersect(ids.toSet).size == 40,
      "survivor rows keep their ids")
  }

  test("replace on an empty table is the blind append") {
    val t = new GraftTable(spark, graft.TempDirs.create("graft_rw_empty"))
    t.replaceWhere($"id" <= 10L, Seq((1L, "a")).toDF("id", "name"))
    assert(t.snapshot().count() == 1L)
  }

  test("SQL face: INSERT INTO ... REPLACE WHERE; plain INSERT still delegates") {
    val s2 = graft.GraftSession.withExtensions(spark)
    import s2.implicits._
    val wh = graft.TempDirs.create("graft_rw_sql_wh")
    s2.conf.set("spark.sql.catalog.grw", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.grw.root", wh)
    val t = new GraftTable(s2, s"$wh/r")
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (9L, "z", 9.0))
      .toDF("id", "name", "v"))
    s2.sql("INSERT INTO grw.r REPLACE WHERE id <= 2 " +
      "VALUES (1, 'R', -1.0), (2, 'R', -2.0)")
    assert(t.versions == Seq(1L, 2L), "REPLACE WHERE is one commit")
    assert(t.history().last.op == "replaceWhere")
    assert(s2.sql("SELECT name FROM grw.r ORDER BY id").as[String]
      .collect().toSeq == Seq("R", "R", "z"))
    // a predicate with parens and an AND still splits from the query
    // (the incoming row must itself satisfy it — name stays 'z')
    s2.sql("INSERT INTO grw.r REPLACE WHERE (id >= 9) AND name = 'z' " +
      "SELECT 9 AS id, 'z' AS name, 0.0 AS v")
    assert(s2.sql("SELECT v FROM grw.r WHERE id = 9").as[Double]
      .head() == 0.0)
    // plain INSERT (no REPLACE) delegates to Spark's own statement
    s2.sql("INSERT INTO grw.r VALUES (5, 'e', 5.0)")
    assert(s2.sql("SELECT count(*) AS n FROM grw.r").as[Long].head() == 4L)
    assert(t.history().last.op == "append")
    // out-of-scope incoming rows refuse loudly through SQL too
    val err = intercept[Exception] {
      s2.sql("INSERT INTO grw.r REPLACE WHERE id <= 2 VALUES (7, 'X', 0.0)")
    }
    def chain(t: Throwable): String =
      if (t == null) "" else t.getMessage + "\n" + chain(t.getCause)
    assert(chain(err).contains("must satisfy the predicate"))
  }
}
