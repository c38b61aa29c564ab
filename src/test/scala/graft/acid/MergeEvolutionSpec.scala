package graft.acid

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MERGE SCHEMA EVOLUTION (the Delta WITH SCHEMA EVOLUTION / autoMerge
  * semantics, API face): `mergeIntoGeneral(evolveSchema = true)` turns
  * assignment keys the target schema lacks into NEW nullable columns —
  * typed from the assignment expression by a plan-time probe, NULL on
  * every row no branch assigns, metadata-only for carried files (the
  * evolved declared schema projects the missing parquet column as
  * null, the ADD COLUMN contract). */
class MergeEvolutionSpec extends SparkSpec {
  import spark.implicits._

  test("an evolving merge adds the assigned column, types it from the expression, and nulls the rest") {
    val root = graft.TempDirs.create("graft_mev_basic")
    val t = new GraftTable(spark, root)
    t.append((1L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"),
      mergeSchema = true) // declares the schema
    val src = Seq((1L, "gold"), (2L, "silver"), (21L, "new")).toDF("sid", "tier")
    t.mergeIntoGeneral(src, col("__t_id") === col("__s_sid"),
      matched = Seq((None, Some(Map("tier" -> col("__s_tier"))))),
      notMatched = Seq((None, Map(
        "id" -> col("__s_sid"), "v" -> lit(0.0), "tier" -> col("__s_tier")))),
      notMatchedBySource = Nil,
      evolveSchema = true)
    val s = t.tableSchema.get
    assert(s.fieldNames.toSeq == Seq("id", "v", "tier"),
      s"evolved schema must append the new column, got ${s.fieldNames.toSeq}")
    assert(s("tier").dataType == StringType && s("tier").nullable)
    val got = t.snapshot().as[(Long, Double, Option[String])].collect()
      .map { case (id, v, tier) => id -> ((v, tier)) }.toMap
    assert(got(1L) == ((1.0, Some("gold"))) && got(2L) == ((2.0, Some("silver"))))
    assert(got(21L) == ((0.0, Some("new"))))
    assert((3L to 20L).forall(i => got(i) == ((i * 1.0, None))),
      "rows no branch assigns get NULL in the new column")
  }

  test("the scoped merge path evolves too: carried files project the new column as null") {
    val root = graft.TempDirs.create("graft_mev_scoped")
    val t = new GraftTable(spark, root, partitionCol = Some("p"))
    t.append((1L to 40L).map(i => (i, i % 4, i * 1.0)).toDF("id", "p", "v"),
      mergeSchema = true)
    val before = t.latestVersion.map(t.entries).get.map(_.path).toSet
    val src = Seq((5L, 1L, 2.5)).toDF("sid", "sp", "score")
    t.mergeIntoGeneral(src,
      col("__t_id") === col("__s_sid") && col("__t_p") === col("__s_sp"),
      matched = Seq((None, Some(Map("score" -> col("__s_score"))))),
      notMatched = Nil, notMatchedBySource = Nil,
      scopedTouched = Some(Seq(1L)),
      evolveSchema = true)
    assert(t.tableSchema.get.fieldNames.contains("score"))
    assert(t.tableSchema.get("score").dataType == DoubleType)
    // partitions 0/2/3's files carried verbatim (zero I/O), yet read
    // back with the NEW column as null
    val after = t.latestVersion.map(t.entries).get.map(_.path).toSet
    assert((before & after).nonEmpty, "untouched partitions must carry verbatim")
    val got = t.snapshot().select("id", "score")
      .as[(Long, Option[Double])].collect().toMap
    assert(got(5L).contains(2.5) && got(6L).isEmpty && got.size == 40)
  }

  test("evolveSchema with no new columns is the identity; without the flag unknown keys are ignored") {
    val root = graft.TempDirs.create("graft_mev_noop")
    val t = new GraftTable(spark, root)
    t.append((1L to 5L).map(i => (i, i * 1.0)).toDF("id", "v"),
      mergeSchema = true)
    t.mergeIntoGeneral(Seq((1L, 9.0)).toDF("sid", "sv"),
      col("__t_id") === col("__s_sid"),
      matched = Seq((None, Some(Map("v" -> col("__s_sv"))))),
      notMatched = Nil, notMatchedBySource = Nil, evolveSchema = true)
    assert(t.tableSchema.get.fieldNames.toSeq == Seq("id", "v"))
    // legacy behavior preserved: unknown keys without the flag are
    // ignored by the assemble (no accidental evolution)
    t.mergeIntoGeneral(Seq((2L, "x")).toDF("sid", "tag"),
      col("__t_id") === col("__s_sid"),
      matched = Seq((None, Some(Map("tag" -> col("__s_tag"))))),
      notMatched = Nil, notMatchedBySource = Nil)
    assert(t.tableSchema.get.fieldNames.toSeq == Seq("id", "v"))
  }

  test("SQL: MERGE WITH SCHEMA EVOLUTION star-actions add the source-only column") {
    val warehouse = graft.TempDirs.create("graft_mev_wh")
    // a DISTINCT catalog name: the shared session CACHES catalog
    // instances at first use, so re-pointing `graft` here would pin
    // every later suite's graft.<t> lookups at THIS warehouse
    spark.conf.set("spark.sql.catalog.gmev", "graft.acid.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmev.root", warehouse)
    val t = new GraftTable(spark, s"$warehouse/mevsql")
    t.append((1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"),
      mergeSchema = true)
    Seq((1L, 100.0, "gold"), (11L, 11.0, "fresh")).toDF("id", "v", "tier")
      .createOrReplaceTempView("mev_src")
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO gmev.mevsql t
      |USING mev_src s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET *
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val cold = GraftTable.load(spark, s"$warehouse/mevsql")
    assert(cold.tableSchema.get.fieldNames.toSeq == Seq("id", "v", "tier"))
    val got = spark.sql(
      "SELECT id, tier FROM gmev.mevsql ORDER BY id")
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L).contains("gold") && got(11L).contains("fresh") &&
      got(2L).isEmpty && got.size == 11)
    // WITHOUT the clause the same star-merge must NOT evolve (the
    // analyzer drops the extra source column from the star expansion)
    spark.sql("""MERGE INTO gmev.mevsql t
      |USING (SELECT 2 AS id, CAST(9.0 AS DOUBLE) AS v,
      |       CAST(NULL AS STRING) AS tier, 'x' AS extra) s
      |ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
    assert(GraftTable.load(spark, s"$warehouse/mevsql")
      .tableSchema.get.fieldNames.toSeq == Seq("id", "v", "tier"),
      "a plain star-merge never evolves the schema")
  }

  test("SQL: an EXPLICIT assignment under WITH SCHEMA EVOLUTION leaves evolved columns unassigned") {
    val warehouse = graft.TempDirs.create("graft_mev_expl_wh")
    spark.conf.set("spark.sql.catalog.gmevx", "graft.acid.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gmevx.root", warehouse)
    val t = new GraftTable(spark, s"$warehouse/mevx")
    t.append((1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"),
      mergeSchema = true)
    Seq((1L, 100.0, "gold"), (11L, 11.0, "fresh")).toDF("id", "v", "tier")
      .createOrReplaceTempView("mevx_src")
    // matched: EXPLICIT SET (only v) — tier must stay NULL on row 1
    // even though the source carries it (Delta populates evolved
    // columns for STAR actions only); not-matched: INSERT * carries it
    spark.sql("""MERGE WITH SCHEMA EVOLUTION INTO gmevx.mevx t
      |USING mevx_src s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET t.v = s.v
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val cold = GraftTable.load(spark, s"$warehouse/mevx")
    assert(cold.tableSchema.get.fieldNames.toSeq == Seq("id", "v", "tier"),
      "the schema still evolves (the star insert references tier)")
    val got = spark.sql("SELECT id, v, tier FROM gmevx.mevx ORDER BY id")
      .as[(Long, Double, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((100.0, None)),
      s"an explicit UPDATE SET must NOT write the evolved column: ${got(1L)}")
    assert(got(11L) == ((11.0, Some("fresh"))),
      "the star INSERT populates the evolved column")
  }

  test("evolution on a schema-less table refuses loudly") {
    val root = graft.TempDirs.create("graft_mev_noschema")
    val t = new GraftTable(spark, root)
    t.append((1L to 5L).map(i => (i, i * 1.0)).toDF("id", "v")) // undeclared
    val e = intercept[IllegalArgumentException] {
      t.mergeIntoGeneral(Seq((1L, "x")).toDF("sid", "tag"),
        col("__t_id") === col("__s_sid"),
        matched = Seq((None, Some(Map("tag" -> col("__s_tag"))))),
        notMatched = Nil, notMatchedBySource = Nil, evolveSchema = true)
    }
    assert(e.getMessage.contains("schema-tracking"))
  }

  test("SQL: a hand-written full identity list is an explicit list, not a star (parser fact)") {
    // the r16 heuristic's one residual ambiguity: an UPDATE list that
    // names EVERY pre-evolution column as an identity assignment is
    // shape-indistinguishable from the analyzer's SET * expansion, so
    // inference had to call it star (and assign the evolved columns).
    // The parser KNOWS it was written as an explicit list —
    // GraftSqlParser stamps the star bits on the parsed plan
    // (MergeStarTag) and the conversion reads them, so the evolved
    // column stays NULL on the matched row. Runs on a DERIVED session:
    // only GraftSqlParser-parsed plans carry the fact (the shared test
    // session's default parser exercises the inference fallback, which
    // the explicit-assignment test above pins).
    val warehouse = graft.TempDirs.create("graft_mev_ident_wh")
    val s2 = graft.GraftSession.withExtensions(spark)
    s2.conf.set("spark.sql.catalog.gmevi", "graft.acid.GraftCatalog")
    s2.conf.set("spark.sql.catalog.gmevi.root", warehouse)
    val t = new GraftTable(spark, s"$warehouse/mevi")
    t.append((1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"),
      mergeSchema = true)
    s2.sql("""MERGE WITH SCHEMA EVOLUTION INTO gmevi.mevi t
      |USING (SELECT CAST(1 AS BIGINT) AS id, CAST(100.0 AS DOUBLE) AS v,
      |              'gold' AS tier
      |       UNION ALL
      |       SELECT CAST(11 AS BIGINT), CAST(11.0 AS DOUBLE), 'fresh') s
      |ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET t.id = s.id, t.v = s.v
      |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val cold = GraftTable.load(spark, s"$warehouse/mevi")
    assert(cold.tableSchema.get.fieldNames.toSeq == Seq("id", "v", "tier"),
      "the star INSERT still evolves the schema")
    val got = cold.snapshot().orderBy("id")
      .select("id", "v", "tier")
      .as[(Long, Double, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((100.0, None)),
      s"a hand-written full identity list must NOT write the evolved " +
        s"column: ${got(1L)}")
    assert(got(11L) == ((11.0, Some("fresh"))),
      "the star INSERT populates the evolved column")
    assert(got(2L) == ((2.0, None)) && got.size == 11)
  }

  test("an evolved name colliding with a renamed column's physical name refuses loudly") {
    val root = graft.TempDirs.create("graft_mev_collide")
    val t = new GraftTable(spark, root)
    t.append((1L to 5L).map(i => (i, i * 1.0)).toDF("id", "v"),
      mergeSchema = true)
    t.renameColumn("v", "w") // physical 'v' stays in the files
    val t2 = GraftTable.load(spark, root)
    val e = intercept[IllegalArgumentException] {
      t2.mergeIntoGeneral(Seq((1L, 9.0)).toDF("sid", "sv"),
        col("__t_id") === col("__s_sid"),
        matched = Seq((None, Some(Map("v" -> col("__s_sv"))))),
        notMatched = Nil, notMatchedBySource = Nil, evolveSchema = true)
    }
    assert(e.getMessage.contains("physical"))
  }
}
