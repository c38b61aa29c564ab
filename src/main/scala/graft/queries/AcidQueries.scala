package graft.queries

import graft.{QueryPack, Tables}
import graft.acid.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** ACID commit-log table coverage (graft.acid.GraftTable): the operations
  * a production CDC/lakehouse user leans on — MERGE upsert, time travel,
  * change feed — each hash-verified by replaying the commit sequence in
  * SQL over the raw table. The commit sequence is deterministic (events
  * split by event_id % 3 into three commits), so the oracle can state
  * each version's exact content.
  *
  * Scale: the table fixtures build ONCE per JVM per scale dir; every
  * query then runs ordinary distributed parquet scans over the active
  * file set — the log adds O(files) metadata resolution, no row-data
  * driver traffic.
  */
object AcidQueries extends QueryPack {

  private lazy val acidDir = tempFixtureDir("graft_acid")

  /** (mergeRoot, appendRoot, compactRoot, deleteRoot) per scale dir,
    * built once: three deterministic commits each — append %3==0, then
    * %3==1, %3==2 as MERGE (latest-per-user wins) on one table, plain
    * appends on the second; the third is the appends followed by an
    * OPTIMIZE (compact to 4 files); the fourth is the appends followed
    * by a row-level DELETE of every user_id % 10 == 0 row (the
    * compliance-erasure path). */
  private val fixtures =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, String, String, String, String, String, String)]()

  /** A clone of `s` carrying `confs`: gates and fixture builders that
    * need the graft catalog or an acid knob set it here, never on the
    * session they are handed. The clone keeps the caller's conf, temp
    * views and listeners; tables it writes read back from any session
    * through `GraftTable.load(s, root)`. */
  private def cloneWith(s: SparkSession, confs: (String, String)*): SparkSession =
    graft.GraftSession.cloneFor(s, confs.mkString(",")) { c =>
      confs.foreach { case (k, v) => c.conf.set(k, v) }
    }

  /** [[cloneWith]] the `graft` catalog rooted at the fixture dir. */
  private def withCatalog(s: SparkSession): SparkSession = cloneWith(s,
    "spark.sql.catalog.graft" -> "graft.acid.GraftCatalog",
    "spark.sql.catalog.graft.root" -> acidDir)

  private def events(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
  }

  private def tables(s: SparkSession, d: String): (GraftTable, GraftTable, GraftTable, GraftTable, GraftTable, GraftTable, GraftTable, GraftTable) = {
    val (m, a, c, x, k, p, b, mi) = fixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val ev = events(s, d)
      val slice = (r: Long) => ev.filter(pmod($"event_id", lit(3L)) === r)
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(d.getBytes("UTF-8"))
          .getMostSignificantBits)
      val mergeRoot = s"$acidDir/merge_$key"
      val appendRoot = s"$acidDir/append_$key"
      val compactRoot = s"$acidDir/compact_$key"
      val mt = new GraftTable(s, mergeRoot)
      mt.append(slice(0L))
      mt.merge(slice(1L), Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
      mt.merge(slice(2L), Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
      val at = new GraftTable(s, appendRoot)
      (1L to 3L).foreach(v => at.append(slice(v - 1L)))
      val ct = new GraftTable(s, compactRoot)
      (1L to 3L).foreach(v => ct.append(slice(v - 1L)))
      ct.compact(targetFiles = 4)
      val deleteRoot = s"$acidDir/delete_$key"
      val xt = new GraftTable(s, deleteRoot)
      (1L to 3L).foreach(v => xt.append(slice(v - 1L)))
      xt.delete(pmod($"user_id", lit(10L)) === 0L)
      // range-CLUSTERED appends (user ranges disjoint per commit) with a
      // user_id stats column: the shape manifest data skipping prunes
      val skipRoot = s"$acidDir/skip_$key"
      val st = new GraftTable(s, skipRoot, statsCol = Some("user_id"))
      st.append(ev.filter($"user_id" <= 50L))
      st.append(ev.filter($"user_id" > 50L && $"user_id" <= 100L))
      st.append(ev.filter($"user_id" > 100L))
      // PARTITIONED merge table: pid = user_id % 8 is functionally
      // determined by the merge key, so the partition-scoped rewrite is
      // exact; commits rewrite only the touched partitions' files.
      val partRoot = s"$acidDir/part_$key"
      val pt = new GraftTable(s, partRoot, partitionCol = Some("pid"))
      val evp = ev.withColumn("pid", pmod($"user_id", lit(8L)))
      val pslice = (r: Long) => evp.filter(pmod($"event_id", lit(3L)) === r)
      pt.append(pslice(0L))
      pt.merge(pslice(1L), Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
      pt.merge(pslice(2L), Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
      // BLOOM-indexed table on event_id: the %3 slices interleave ids
      // across every commit's files, so min/max windows span the whole id
      // space and CANNOT prune a point lookup — the per-file bloom can.
      val bloomRoot = s"$acidDir/bloom_$key"
      val bt = new GraftTable(s, bloomRoot, bloomCol = Some("event_id"))
      (1L to 3L).foreach(v => bt.append(slice(v - 1L)))
      // CDC mirror of the merge table, built ONCE like every other
      // fixture (a fresh mirror + two commits per invocation would make a
      // read-gate row measure table writes and leak mirrors across bench
      // repeats): seeded at v1, then one applyChanges of the v1->v3 feed.
      val mirrorRoot = s"$acidDir/mirror_$key"
      val mir = new GraftTable(s, mirrorRoot)
      mir.append(mt.snapshot(Some(1L)))
      mir.applyChanges(mt.changeFeed(1L, 3L))
      (mergeRoot, appendRoot, compactRoot, deleteRoot, skipRoot, partRoot,
       bloomRoot, mirrorRoot)
    })
    (new GraftTable(s, m), new GraftTable(s, a), new GraftTable(s, c),
     new GraftTable(s, x), new GraftTable(s, k, statsCol = Some("user_id")),
     new GraftTable(s, p, partitionCol = Some("pid")),
     new GraftTable(s, b, bloomCol = Some("event_id")),
     new GraftTable(s, mi))
  }

  /** SQL-DML fixture tables (built once per JVM per scale dir): a
    * pid-partitioned copy of events mutated by SQL `UPDATE`, and a
    * pid-partitioned latest-per-user table built by SQL `MERGE INTO`
    * (CDC upsert shape: ON pins the partition column, so the merge
    * rewrites only impacted partitions — GraftCatalogSpec pins the
    * carried-files invariant; these rows pin row-level correctness). */
  private val sqlDmlFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def sqlDmlTables(s: SparkSession, d: String): (GraftTable, GraftTable) = {
    val (u, m) = sqlDmlFixtures.computeIfAbsent(d, { _ =>
      val c = withCatalog(s)
      import c.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("sqldml" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val ev = events(c, d).withColumn("pid", pmod($"user_id", lit(8L)))
      val uRoot = s"$acidDir/squpd_$key"
      val ut = new GraftTable(c, uRoot, partitionCol = Some("pid"))
      ut.append(ev)
      c.sql(s"UPDATE graft.`${new Path(uRoot).getName}` " +
        "SET value = value * 2 WHERE pid = 3")
      val mRoot = s"$acidDir/sqmrg_$key"
      val mt2 = new GraftTable(c, mRoot, partitionCol = Some("pid"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      def latest(df: DataFrame) = df.withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1).drop("__rn")
      mt2.append(latest(ev.filter(pmod($"event_id", lit(3L)) === 0L)))
      latest(ev.filter(pmod($"event_id", lit(3L)) =!= 0L))
        .createOrReplaceTempView("graft_sql_merge_src")
      c.sql(
        s"""MERGE INTO graft.`${new Path(mRoot).getName}` t
           |USING graft_sql_merge_src s
           |ON t.user_id = s.user_id AND t.pid = s.pid
           |WHEN MATCHED AND (s.ts > t.ts OR (s.ts = t.ts AND s.event_id > t.event_id))
           |  THEN UPDATE SET event_id = s.event_id, ts = s.ts,
           |                  event_type = s.event_type, value = s.value
           |WHEN NOT MATCHED THEN
           |  INSERT (event_id, user_id, ts, event_type, value, pid)
           |  VALUES (s.event_id, s.user_id, s.ts, s.event_type, s.value, s.pid)
           |""".stripMargin)
      (uRoot, mRoot)
    })
    (GraftTable.load(s, u), GraftTable.load(s, m))
  }

  /** Schema-evolution fixture (built once per JVM per scale dir): half
    * the events land BEFORE an ALTER TABLE ADD COLUMNS (so their files
    * physically lack the column), half after with values — the gate row
    * reads the evolved snapshot where the old half projects NULL. */
  private val evoFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def evoTable(s: SparkSession, d: String): GraftTable = {
    val root = evoFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("evo" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val ev = events(s, d)
      val r = s"$acidDir/evo_$key"
      val t = new GraftTable(s, r)
      t.append(ev.filter(pmod($"event_id", lit(2L)) === 0L)
        .select($"event_id", $"user_id", $"event_type"))
      t.addColumn("vtag", org.apache.spark.sql.types.StringType)
      t.append(ev.filter(pmod($"event_id", lit(2L)) === 1L)
        .select($"event_id", $"user_id", $"event_type",
          concat(lit("v:"), $"event_type").as("vtag")))
      r
    })
    GraftTable.load(s, root)
  }

  /** DECIMAL-widening fixture: a money column lands as decimal(10,2)
    * (the even-id half), `widenColumn` grows it to decimal(16,2) as a
    * METADATA-ONLY commit, and the odd-id half then lands values that
    * NEED the new precision — one snapshot read spans both file
    * generations, the narrow one served widened by the parquet reader's
    * schema alone (SchemaEvolutionSpec pins the zero-rewrite property). */
  private val widenFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def widenTable(s: SparkSession, d: String): GraftTable = {
    val root = widenFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("widen" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val ev = events(s, d)
      val r = s"$acidDir/widen_$key"
      val t = new GraftTable(s, r)
      val dec10 = org.apache.spark.sql.types.DecimalType(10, 2)
      val dec16 = org.apache.spark.sql.types.DecimalType(16, 2)
      t.append(ev.filter(pmod($"event_id", lit(2L)) === 0L)
        .select($"event_id", $"user_id",
          $"value".cast(dec10).as("amount")))
      t.widenColumn("amount", dec16)
      t.append(ev.filter(pmod($"event_id", lit(2L)) === 1L)
        .select($"event_id", $"user_id",
          ($"value".cast(dec16) + lit("9999999999.00").cast(dec16))
            .cast(dec16).as("amount")))
      r
    })
    GraftTable.load(s, root)
  }

  /** Keyed-CDF fixture: v1 = the deduped (latest-per-user) %3==0 slice,
    * v2 = one MERGE of the remaining slices — both versions hold at most
    * one row per user, the shape [[GraftTable.changeFeedKeyed]] serves. */
  private val cdfFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdfTable(s: SparkSession, d: String): GraftTable = {
    val root = cdfFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("cdf" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/cdf_$key"
      val t = new GraftTable(s, r)
      val ev = events(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      def latest(df: DataFrame) = df.withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1).drop("__rn")
      t.append(latest(ev.filter(pmod($"event_id", lit(3L)) === 0L)))
      t.merge(ev.filter(pmod($"event_id", lit(3L)) =!= 0L),
        Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
      r
    })
    GraftTable.load(s, root)
  }

  /** Bounded-delta CDC fixture (the production change-stream shape,
    * r12 directive #8): a user_id-CLUSTERED table (statsCol windows +
    * range-clustered seed) seeded with the deduped latest-per-user
    * state, then two KEY-BOUNDED mutations — a scoped MERGE bumping a
    * fixed 24-user band (rewrites only the files whose user_id window
    * intersects the band) and a DV delete of a fixed 12-user band. The
    * streamed feed (startingVersion=2, netted) is then O(band) in BOTH
    * scan and output at every SF: the scoped rewrite's carried
    * neighbor rows cancel in the netting, and the DV commit nets to
    * exactly the newly-masked rows. */
  private val cdcDeltaFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdcDeltaTable(s: SparkSession, d: String): GraftTable = {
    val root = cdcDeltaFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("cdcdelta" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/cdcdelta_$key"
      val t = new GraftTable(s, r, statsCol = Some("user_id"))
      val ev = events(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val seed = ev.withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1).drop("__rn")
      t.append(seed.repartitionByRange(8, $"user_id"))         // v1
      // v2: key-scoped merge — same ts, higher event_id wins the merge
      val bumped = t.snapshot().filter($"user_id" < 24L)
        .withColumn("event_id", $"event_id" + 10000000L)
        .withColumn("value", $"value" + 1000.0)
      t.merge(bumped, Seq("user_id"), Seq($"ts".desc, $"event_id".desc))
      t.delete($"user_id" >= 24L && $"user_id" < 36L)          // v3: DV
      r
    })
    GraftTable.load(s, root)
  }

  /** Streaming-CDC mirror fixture: the cdf table's KEYED change feed
    * (readChangeFeed + changeFeedKeys=user_id) drained through
    * foreachBatch applyChangesKeyed into a user_id-indexed mirror —
    * the bounded CDC-replay loop (each batch rewrites only files whose
    * windows can hold a touched key). Built once per JVM; the gate row
    * reads the mirror snapshot, which must equal the source's latest
    * state. */
  private val cdcMirrorFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdcMirrorTable(s: SparkSession, d: String): GraftTable = {
    val root = cdcMirrorFixtures.computeIfAbsent(d, { _ =>
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("cdcmir" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val src = cdfTable(s, d)
      val mirRoot = s"$acidDir/cdcmir_$key"
      val ckpt = s"$acidDir/cdcmir_ckpt_$key"
      val mir = new GraftTable(s, mirRoot, statsCol = Some("user_id"))
      val q = s.readStream.format("graft-table")
        .option("path", src.root)
        .option("maxVersionsPerBatch", "1")
        .option("readChangeFeed", "true")
        .option("changeFeedKeys", "user_id")
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty)
            mir.applyChangesKeyed(batch.drop("_commit_version"), "user_id")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      mirRoot
    })
    GraftTable.load(s, root)
  }

  /** CDC AGGREGATE-MIRROR fixture (round 14: incremental materialized
    * aggregates): the cdf table's KEYED change feed drained through
    * [[GraftTable.applyChangesAgg]] into a per-event_type aggregate
    * mirror — live count + exact DECIMAL(28,6) value sum per group,
    * folded batch by batch as ±deltas (update pairs move sums between
    * groups, dead groups leave). The gate row pins the materialized-
    * view identity: the maintained mirror must EXACTLY equal the full
    * recompute over the source's final state — at 100 TB the mirror
    * never rescans the source, each batch costs O(touched groups). */
  private val cdcAggFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdcAggTable(s: SparkSession, d: String): GraftTable = {
    val root = cdcAggFixtures.computeIfAbsent(d, { _ =>
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("cdcagg" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val src = cdfTable(s, d)
      val mirRoot = s"$acidDir/cdcagg_$key"
      val mir = new GraftTable(s, mirRoot)
      // Deterministic BATCH replay (round 16, r15 directive #2): one
      // keyed feed per source commit, folded in version order with the
      // idempotent txn stamp — the gate's dependency surface drops
      // AvailableNow / foreachBatch / the streaming checkpoint entirely
      // (the r14/r15 driver-only red could not be reproduced across
      // three local runs; the remaining suspects were all in the
      // streaming drain). The streaming fold stays first-class and
      // driver-gated through q_acid_stream_cdc_mirror and the
      // GraftTableSink specs; THIS fixture pins the materialized-view
      // identity of applyChangesAgg itself.
      val lv = src.latestVersion.getOrElse(
        throw new IllegalStateException(s"cdf fixture at ${src.root} empty"))
      (1L to lv).foreach { v =>
        mir.applyChangesAgg(
          src.changeFeedKeyed(v - 1L, v, Seq("user_id")),
          "event_type", Seq("value"),
          txn = Some(("cdcagg_mirror", v)))
      }
      mirRoot
    })
    GraftTable.load(s, root)
  }

  /** SQL-MAINTAINED aggregate-mirror fixture (round 16, r15 directive
    * #6): the SAME materialized-view identity as [[cdcAggTable]], but
    * every fold step is one `APPLY CHANGES INTO ... KEY (event_type)
    * SUM (value) TXN ... EPOCH ...` statement on the derived session —
    * a SQL-only deployment maintains the mirror with zero API code.
    * The TXN clause carries the exactly-once epoch, so a re-run
    * scheduler step is a no-op. */
  private val sqlCdcAggFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sqlCdcAggTable(s: SparkSession, d: String): GraftTable = {
    val root = sqlCdcAggFixtures.computeIfAbsent(d, { _ =>
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("sqlcdcagg" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val src = cdfTable(s, d)
      val mirRoot = s"$acidDir/sqlcdcagg_$key"
      val s2 = withCatalog(graft.GraftSession.withExtensions(s))
      val srcName = new Path(src.root).getName
      val lv = src.latestVersion.getOrElse(
        throw new IllegalStateException(s"cdf fixture at ${src.root} empty"))
      (1L to lv).foreach { v =>
        s2.sql(s"APPLY CHANGES INTO graft.`sqlcdcagg_$key` " +
          s"FROM CHANGES graft.`$srcName` FROM ${v - 1} TO $v " +
          s"KEY (event_type) SUM (value) TXN 'sqlcdcagg' EPOCH $v")
      }
      mirRoot
    })
    GraftTable.load(s, root)
  }

  /** WRITE-SIDE-CDF fixture (the persisted _change_data design): the
    * deduped latest-per-user seed, then — with
    * `spark.graft.acid.writeChangeData=true` — a DV UPDATE bumping a
    * fixed 8-user band (v2) and a DV DELETE of a fixed 4-user band
    * (v3). Both DML commits persist their net row changes under
    * `_log/changes/` at commit time; the gate row's CDC stream serves
    * those files directly (ChangeDataFilesSpec pins the zero-base-file
    * property and the served≡computed identity), so N consumers stop
    * paying the exceptAll recompute N times. */
  private val cdfServedFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdfServedTable(s: SparkSession, d: String): GraftTable = {
    val root = cdfServedFixtures.computeIfAbsent(d, { _ =>
      // appends write no change files, so the seed reads the same with
      // the knob on
      val c = cloneWith(s, "spark.graft.acid.writeChangeData" -> "true")
      import c.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("cdfserved" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/cdfserved_$key"
      val t = new GraftTable(c, r, statsCol = Some("user_id"))
      val ev = events(c, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val seed = ev.withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1).drop("__rn")
      t.append(seed.repartitionByRange(8, $"user_id"))            // v1
      t.update($"user_id" < 8L,
        Map("value" -> ($"value" + 1000.0)))                      // v2: DV
      t.delete($"user_id" >= 8L && $"user_id" < 12L)              // v3: DV
      r
    })
    GraftTable.load(s, root)
  }

  /** MERGE-CDF fixture (round 14: write-side change data for REWRITE
    * commits): the deduped latest-per-user seed, then — with
    * `spark.graft.acid.writeChangeData=true` — ONE key-scoped MERGE
    * that both bumps a fixed 16-user band and inserts 4 synthetic
    * users. The merge nets its written files against its consumed files
    * at commit time (rewriteChangeMeta) and persists the O(touched
    * rows) result under `_log/changes/`; the gate row's change feed
    * serves those files (MergeChangeDataSpec pins zero base-file opens
    * and the served≡snapshot-diff identity) — the upsert-heavy CDC
    * deployment's cost model: one netting pass at commit, KB-scale
    * reads per consumer forever after. */
  private val cdfMergeFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cdfMergeTable(s: SparkSession, d: String): GraftTable = {
    val root = cdfMergeFixtures.computeIfAbsent(d, { _ =>
      // appends write no change files, so the seed reads the same with
      // the knob on
      val c = cloneWith(s, "spark.graft.acid.writeChangeData" -> "true")
      import c.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("cdfmerge" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/cdfmerge_$key"
      val t = new GraftTable(c, r, statsCol = Some("user_id"))
      val ev = events(c, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val seed = ev.withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1).drop("__rn")
      t.append(seed.repartitionByRange(8, $"user_id"))            // v1
      // same-ts/higher-event_id rows win the merge for the bumped band;
      // the synthetic users (key-shifted far past the corpus) are pure
      // inserts
      val bumped = t.snapshot().filter($"user_id" < 16L)
        .withColumn("event_id", $"event_id" + 10000000L)
        .withColumn("value", $"value" + 1000.0)
      val inserts = t.snapshot().filter($"user_id" < 4L)
        .withColumn("user_id", $"user_id" + 1000000L)
      t.merge(bumped.unionByName(inserts),
        Seq("user_id"), Seq($"ts".desc, $"event_id".desc))        // v2
      r
    })
    GraftTable.load(s, root)
  }

  /** MERGE-EVOLUTION fixture (round 14: the Delta WITH SCHEMA EVOLUTION
    * semantics, API face): a schema-tracking table seeded with the
    * deduped latest-per-user state, then ONE
    * `mergeIntoGeneral(evolveSchema = true)` whose matched branch
    * assigns a NEW `grade` column (typed from the expression by the
    * plan-time probe) and whose insert branch lands key-shifted rows
    * carrying it — every untouched row reads the evolved column as
    * NULL, metadata-only for carried files (MergeEvolutionSpec pins the
    * scoped-carry + collision-guard laws). */
  private val mergeEvolveFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mergeEvolveTable(s: SparkSession, d: String): GraftTable = {
    val root = mergeEvolveFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("mergeevolve" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/mergeevolve_$key"
      val t = new GraftTable(s, r, statsCol = Some("user_id"))
      val ev = events(s, d)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      val seed = ev.withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1).drop("__rn")
      t.append(seed.repartitionByRange(8, $"user_id"),
        mergeSchema = true)                                       // v1
      val base = t.snapshot()
      val m = base.filter($"user_id" < 12L).select(
        $"user_id".as("su"),
        concat(lit("g"), pmod($"user_id", lit(3L)).cast("string")).as("grade"),
        lit(null).cast("long").as("sev"),
        lit(null).cast("timestamp").as("sts"),
        lit(null).cast("string").as("sty"),
        lit(null).cast("double").as("sval"))
      val i = base.filter($"user_id" < 3L).select(
        ($"user_id" + 1000000L).as("su"), lit("new").as("grade"),
        $"event_id".as("sev"), $"ts".as("sts"),
        $"event_type".as("sty"), $"value".as("sval"))
      t.mergeIntoGeneral(m.unionByName(i),
        col("__t_user_id") === col("__s_su"),
        matched = Seq((None, Some(Map("grade" -> col("__s_grade"))))),
        notMatched = Seq((None, Map(
          "event_id" -> col("__s_sev"), "user_id" -> col("__s_su"),
          "ts" -> col("__s_sts"), "event_type" -> col("__s_sty"),
          "value" -> col("__s_sval"), "grade" -> col("__s_grade")))),
        notMatchedBySource = Nil, evolveSchema = true)            // v2
      r
    })
    GraftTable.load(s, root)
  }

  /** ROW-TRACKING fixture (the Delta row-ID pattern, stored form): a
    * rowTracking table mints a table-unique `_row_id` per ingested row;
    * the DV UPDATE of a fixed 8-user band preserves ids through the
    * post-image append, so the change feed pairs pre/post images BY ROW
    * ID — keyless CDC update classification (no business key declared
    * anywhere). RowTrackingSpec pins id uniqueness (incl. racing
    * appends) and preservation through compact/zorder. */
  private val rowTrackingFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def rowTrackingTable(s: SparkSession, d: String): GraftTable = {
    val root = rowTrackingFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("rowtrack" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/rowtrack_$key"
      val t = new GraftTable(s, r, statsCol = Some("user_id"),
        rowTracking = true)
      t.append(events(s, d).repartitionByRange(8, $"user_id"))    // v1
      t.update($"user_id" < 8L,
        Map("value" -> ($"value" + 1000.0)))                      // v2: DV
      r
    })
    GraftTable.load(s, root)
  }

  /** PARTITIONED row-tracking fixture — the regression shape for the
    * duplicate-id bug: partitionCol set (clusterByPartition shuffles the
    * minted frame down to #distinct-partition-value partitions) while
    * every SOURCE batch arrives 16-wide. An unpinned watermark span
    * would use the post-shuffle count and re-mint live ids on append 2;
    * the gate's count(distinct _row_id) == count(*) compare catches it. */
  private val rowTrackingPartFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def rowTrackingPartTable(s: SparkSession, d: String): GraftTable = {
    val root = rowTrackingPartFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("rowtrackpart" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/rowtrackpart_$key"
      // partition on a 4-value numeric bucket: every append arrives
      // 16-wide and clusters down to 4 write partitions — the exact
      // width mismatch that re-minted ids before the span was pinned
      val t = new GraftTable(s, r, partitionCol = Some("bucket"),
        statsCol = Some("user_id"), rowTracking = true)
      val ev = events(s, d).withColumn("bucket", pmod($"user_id", lit(4L)))
      t.append(ev.filter(pmod($"event_id", lit(2L)) === 0L)
        .repartition(16))                                         // v1
      t.append(ev.filter(pmod($"event_id", lit(2L)) === 1L)
        .repartition(16))                                         // v2
      t.update($"user_id" < 8L,
        Map("value" -> ($"value" + 1000.0)))                      // v3: DV
      r
    })
    GraftTable.load(s, root)
  }

  /** RESTORE fixture: three appends (the %3 slices), then a rollback to
    * v2 — the snapshot must be exactly the first two slices, served by
    * RE-REFERENCED v2 files (RestoreSpec pins the zero-I/O property). */
  private val restoreFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def restoreTable(s: SparkSession, d: String): GraftTable = {
    val root = restoreFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("restore" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/restore_$key"
      val t = new GraftTable(s, r)
      val ev = events(s, d)
      (0L to 2L).foreach(v => t.append(ev.filter(pmod($"event_id", lit(3L)) === v)))
      t.restore(2L)
      r
    })
    GraftTable.load(s, root)
  }

  /** Z-ORDER fixture: events z-order-compacted on (user_id, event_id) —
    * two independent dimensions — with both columns index-tracked, so
    * range reads on EITHER prune files from manifest windows
    * (ZOrderSpec pins the pruning counts; the gate row pins exactness). */
  private val zorderFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def zorderTable(s: SparkSession, d: String): GraftTable = {
    val root = zorderFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("zorder" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/zorder_$key"
      val t = new GraftTable(s, r, indexCols = Seq("user_id", "event_id"))
      t.append(events(s, d).repartition(8))
      t.compactZOrder(("user_id", "event_id"), targetFiles = 16)
      r
    })
    GraftTable.load(s, root)
  }

  /** HILBERT-layout fixture: same shape as the zorder one, clustered
    * along the Hilbert curve instead of the Morton interleave. */
  private val hilbertFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def hilbertTable(s: SparkSession, d: String): GraftTable = {
    val root = hilbertFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("hilbert" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/hilbert_$key"
      val t = new GraftTable(s, r, indexCols = Seq("user_id", "event_id"))
      t.append(events(s, d).repartition(8))
      t.compactHilbertN(Seq("user_id", "event_id"), targetFiles = 16)
      r
    })
    GraftTable.load(s, root)
  }

  /** INCREMENTAL-zorder fixture: half the events laid by a full ZORDER,
    * the other half appended afterwards as a scattered ingest burst,
    * then ONE incremental pass — only the burst rewrites (the laid
    * files' z-tags carry them over; ZOrderSpec pins the file
    * carry-over), and the gate row proves the two layout generations
    * read as one correct table. */
  private val zorderIncFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def zorderIncTable(s: SparkSession, d: String): GraftTable = {
    val root = zorderIncFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("zorderinc" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/zorderinc_$key"
      val t = new GraftTable(s, r, indexCols = Seq("user_id", "event_id"))
      t.append(events(s, d).filter(pmod($"event_id", lit(2L)) === 0L)
        .repartition(8))
      t.compactZOrder(("user_id", "event_id"), targetFiles = 16)
      t.append(events(s, d).filter(pmod($"event_id", lit(2L)) === 1L)
        .repartition(4))
      t.compactZOrderIncremental(Seq("user_id", "event_id"), targetFiles = 16)
      r
    })
    GraftTable.load(s, root)
  }

  /** CONVERT fixture: an ordinary parquet dump of the events table,
    * adopted IN PLACE (zero rewrite) with stats+bloom profiling, then a
    * DV delete and a native append on top — the migration path from a
    * plain data lake into the commit log. */
  private val convertFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def convertTable(s: SparkSession, d: String): GraftTable = {
    val root = convertFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("convert" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/convert_$key"
      events(s, d).repartitionByRange(4, $"event_id")
        .write.mode("overwrite").parquet(r)
      val t = GraftTable.convert(s, r, statsCol = Some("event_id"),
        bloomCol = Some("user_id"))
      t.delete(pmod($"event_id", lit(97L)) === 0L)
      t.append(events(s, d).filter(pmod($"event_id", lit(97L)) === 0L)
        .withColumn("value", $"value" * 2))
      r
    })
    GraftTable.load(s, root)
  }

  /** SIDECAR-CHECKPOINT fixture (round 14: the incremental parquet
    * checkpoint, the public Delta v2 sidecar design): a table built with
    * `checkpointShards=4` + every commit checkpointing — three append
    * slices then a DV delete, so checkpoints 2-4 are INCREMENTAL
    * (untouched shard dirs re-referenced verbatim;
    * SidecarCheckpointSpec pins the reuse counts and damage fallback) —
    * then `vacuum(retain=1)`: the manifest chain below the head is GONE,
    * so the gate row's cold read must resolve ENTIRELY through the
    * sidecar checkpoint. At 10⁶ files this form turns every periodic
    * checkpoint from an O(table) metadata rewrite into O(touched
    * shards). */
  private val sidecarCpFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def sidecarCpTable(s: SparkSession, d: String): GraftTable = {
    val root = sidecarCpFixtures.computeIfAbsent(d, { _ =>
      val c = cloneWith(s,
        "spark.graft.acid.parquetCheckpointMinFiles" -> "1",
        "spark.graft.acid.checkpointShards" -> "4")
      import c.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("sidecarcp" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/sidecarcp_$key"
      val t = new GraftTable(c, r, statsCol = Some("event_id"),
        checkpointInterval = 1)
      val ev = events(c, d)
      (0L to 2L).foreach(v => t.append(
        ev.filter(pmod($"event_id", lit(3L)) === v)
          .repartitionByRange(4, $"event_id")))                 // v1-v3
      t.delete(pmod($"event_id", lit(101L)) === 0L)             // v4: DV
      t.vacuum(retain = 1)
      r
    })
    GraftTable.load(s, root)
  }

  /** MULTI-TABLE ATOMIC fixture: each %3 batch of events lands in TWO
    * tables in ONE transaction ([[GraftTable.appendAtomic]]) — the raw
    * rows in one, the batch's per-type row counts in the other (the
    * fact + incremental-aggregate pipeline shape). Either both halves of
    * a batch are visible or neither, so the stats table's summed counts
    * always reconcile exactly with the raw table — which is precisely
    * what the gate row verifies against the oracle. */
  private val multiFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String, String)]()

  private def multiTables(s: SparkSession, d: String): (GraftTable, GraftTable, String) = {
    val (rRaw, rStats, txnId) = multiFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("multitable" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val rawRoot = s"$acidDir/mtraw_$key"
      val statsRoot = s"$acidDir/mtstats_$key"
      val raw = new GraftTable(s, rawRoot, statsCol = Some("event_id"))
      val st = new GraftTable(s, statsRoot)
      // the MIDDLE txn's handle is kept: the pinned-read gate row must
      // see exactly two slices in both tables, with a LATER txn on top
      // proving the pin ignores it
      var midTxn = ""
      (0L to 2L).foreach { v =>
        val slice = events(s, d).filter(pmod($"event_id", lit(3L)) === v)
        val agg = slice.groupBy($"event_type")
          .agg(count(lit(1)).as("n"))
        val (_, id) = GraftTable.commitAtomicTxn(Seq(
          GraftTable.AtomicAppend(raw, slice, Some(("mt", v))),
          GraftTable.AtomicAppend(st, agg, Some(("mt", v)))))
        if (v == 1L) midTxn = id
      }
      (rawRoot, statsRoot, midTxn)
    })
    (GraftTable.load(s, rRaw), GraftTable.load(s, rStats), txnId)
  }

  /** Source→sink pipeline fixture: the append table's commit history
    * streamed through readStream("graft-table") INTO a downstream table
    * via writeStream("graft-table") — no foreachBatch anywhere. Built
    * once per JVM; the gate row reads the downstream snapshot. */
  private val streamSinkFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** STREAMING INGEST-DEDUP fixture (the crawl-landing shape): an
    * upstream table whose three appends OVERLAP (append r carries every
    * event with event_id%4 <= r, so each batch re-delivers all prior
    * batches' rows), streamed through the graft-table sink with
    * `dedupKey=event_id` — each micro-batch lands via appendUnique, so
    * the downstream table holds every delivered key EXACTLY once. */
  private val streamDedupFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def streamDedupTable(s: SparkSession, d: String): GraftTable = {
    val root = streamDedupFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("sdedup" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val srcRoot = s"$acidDir/sdedupsrc_$key"
      val dstRoot = s"$acidDir/sdedupdst_$key"
      val ckpt = s"$acidDir/sdedup_ckpt_$key"
      val src = new GraftTable(s, srcRoot)
      val ev = events(s, d)
      (0L to 2L).foreach(r =>
        src.append(ev.filter(pmod($"event_id", lit(4L)) <= r)))
      val q = s.readStream.format("graft-table")
        .option("path", srcRoot)
        .option("maxVersionsPerBatch", "1")
        .load()
        .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
        .writeStream.format("graft-table")
        .option("path", dstRoot)
        .option("checkpointLocation", ckpt)
        .option("dedupKey", "event_id")
        .option("statsCol", "event_id")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      dstRoot
    })
    GraftTable.load(s, root)
  }

  /** MIXED-OP multi-table txn fixture: per step, one atomic transaction
    * APPENDS a slice to the raw table and DV-DELETES a user band from
    * the mirror — the CDC apply-to-two-mirrors shape. At sf0.1 the
    * deletes exceed dvMaxRows and exercise the staged copy-on-write
    * fallback; smaller SFs stay on the deletion-vector path. */
  private val mixedTxnFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def mixedTxnTables(s: SparkSession, d: String): (GraftTable, GraftTable) = {
    val (rRaw, rMir) = mixedTxnFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("mxtxn" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val rawRoot = s"$acidDir/mxraw_$key"
      val mirRoot = s"$acidDir/mxmir_$key"
      val raw = new GraftTable(s, rawRoot)
      val mir = new GraftTable(s, mirRoot)
      val ev = events(s, d)
      mir.append(ev)
      (0L to 2L).foreach { v =>
        GraftTable.commitAtomic(Seq(
          GraftTable.AtomicAppend(raw,
            ev.filter(pmod($"event_id", lit(3L)) === v)),
          GraftTable.AtomicDelete(mir,
            pmod($"user_id", lit(10L)) === v)))
      }
      (rawRoot, mirRoot)
    })
    (GraftTable.load(s, rRaw), GraftTable.load(s, rMir))
  }

  /** ALTER CLUSTER KEYS fixture: a (user_id, event_id)-z-ordered table
    * re-keyed to (event_id, ts) as a METADATA-ONLY commit, then one
    * incremental OPTIMIZE pass migrates the (now untagged w.r.t. the new
    * signature) files into the new layout. The gate row reads a pruned
    * range on the NEW key — correct rows prove the re-key lost/duplicated
    * nothing and the new windows prune truthfully. */
  private val reclusterFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def reclusterTable(s: SparkSession, d: String): GraftTable = {
    val root = reclusterFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("reclus" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/reclus_$key"
      val t = new GraftTable(s, r, indexCols = Seq("user_id", "event_id"))
      t.append(events(s, d))
      t.compactZOrderN(Seq("user_id", "event_id"), 16)
      t.alterClusterKeys(Seq("event_id", "ts"))
      t.compactZOrderIncremental(Seq("event_id", "ts"), 16)
      r
    })
    GraftTable.load(s, root)
  }

  /** Selective-overwrite fixtures ([[GraftTable.replaceWhere]] — the
    * public Delta `INSERT INTO ... REPLACE WHERE` contract): three
    * %3-sliced appends, then ONE atomic commit replacing every
    * user_id <= 30 row with its re-scored copy (value doubled,
    * event_type 'rescored') — the "reload one segment of the corpus"
    * shape. The API table takes the Scala path (DV mask + append, scoped
    * by the user_id windows); the SQL twin replays the same overwrite
    * through the parser-injected statement on a derived session.
    * Deterministic from events, so the oracle states the final content
    * in one SQL expression. */
  private val replaceWhereFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def replaceWhereTables(s: SparkSession, d: String): (GraftTable, GraftTable) = {
    val (rApi, rSql) = replaceWhereFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("replw" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val apiRoot = s"$acidDir/replw_$key"
      val sqlRoot = s"$acidDir/replwsql_$key"
      val ev = events(s, d)
      val slice = (r: Long) => ev.filter(pmod($"event_id", lit(3L)) === r)
      val t = new GraftTable(s, apiRoot, statsCol = Some("user_id"))
      (0L to 2L).foreach(r => t.append(slice(r)))
      t.replaceWhere($"user_id" <= 30L,
        ev.filter($"user_id" <= 30L)
          .withColumn("event_type", lit("rescored"))
          .withColumn("value", $"value" * 2.0))
      // SQL twin: INSERT INTO ... REPLACE WHERE is parser-injected
      // grammar, so it builds on a catalog clone of the shared DERIVED
      // session (same SparkContext, own extensions, caller confs
      // copied); the table on disk reads back from any session
      val s2 = withCatalog(graft.GraftSession.withExtensions(s))
      val t2 = new GraftTable(s2, sqlRoot, statsCol = Some("user_id"))
      (0L to 2L).foreach(r => t2.append(events(s2, d).filter(
        pmod(col("event_id"), lit(3L)) === r)))
      events(s2, d).filter(col("user_id") <= 30L)
        .withColumn("event_type", lit("rescored"))
        .withColumn("value", col("value") * 2.0)
        .createOrReplaceTempView("graft_replw_src")
      s2.sql(s"INSERT INTO graft.`replwsql_$key` REPLACE WHERE " +
        "user_id <= 30 SELECT * FROM graft_replw_src")
      (apiRoot, sqlRoot)
    })
    (GraftTable.load(s, rApi), GraftTable.load(s, rSql))
  }

  /** SQL COMMIT ATOMIC with a MERGE participant: per step ONE atomic
    * transaction INSERTs a raw slice AND MERGEs its latest-per-user rows
    * into a pid-partitioned mirror (ANSI WHEN MATCHED AND newer THEN
    * UPDATE / WHEN NOT MATCHED THEN INSERT) — the CDC land-and-apply
    * shape as a single all-or-nothing SQL statement. ON pins the
    * partition column, so the staged merge rewrites only impacted
    * partitions even inside the txn. */
  private val sqlAtomicMergeFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def sqlAtomicMergeTables(s: SparkSession, d: String): (GraftTable, GraftTable) = {
    val (rRaw, rMir) = sqlAtomicMergeFixtures.computeIfAbsent(d, { _ =>
      // COMMIT ATOMIC is parser-injected grammar: the driver's session
      // has no GraftExtensions, so the fixture builds on a catalog
      // clone of the shared DERIVED session (same SparkContext, own
      // extensions, caller confs copied) — the tables on disk then read
      // back from any session
      val s2 = withCatalog(graft.GraftSession.withExtensions(s))
      import s2.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("sqlam" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val rawRoot = s"$acidDir/amraw_$key"
      val mirRoot = s"$acidDir/ammir_$key"
      val raw = new GraftTable(s2, rawRoot)
      val mir = new GraftTable(s2, mirRoot, partitionCol = Some("pid"))
      val ev = events(s2, d).withColumn("pid", pmod($"user_id", lit(8L)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
      def latest(df: DataFrame) = df.withColumn("__rn", row_number().over(w))
        .filter($"__rn" === 1).drop("__rn")
      val slice = (v: Long) => ev.filter(pmod($"event_id", lit(3L)) === v)
      raw.append(slice(0L))
      mir.append(latest(slice(0L)))
      (1L to 2L).foreach { v =>
        slice(v).createOrReplaceTempView(s"graft_am_raw_$v")
        latest(slice(v)).createOrReplaceTempView(s"graft_am_src_$v")
        s2.sql(
          s"""COMMIT ATOMIC (
             |  INSERT INTO graft.`${new Path(rawRoot).getName}`
             |    SELECT * FROM graft_am_raw_$v;
             |  MERGE INTO graft.`${new Path(mirRoot).getName}` t
             |  USING graft_am_src_$v s
             |  ON t.user_id = s.user_id AND t.pid = s.pid
             |  WHEN MATCHED AND (s.ts > t.ts OR (s.ts = t.ts AND s.event_id > t.event_id))
             |    THEN UPDATE SET event_id = s.event_id, ts = s.ts,
             |                    event_type = s.event_type, value = s.value
             |  WHEN NOT MATCHED THEN
             |    INSERT (event_id, user_id, ts, event_type, value, pid)
             |    VALUES (s.event_id, s.user_id, s.ts, s.event_type, s.value, s.pid)
             |)""".stripMargin)
      }
      (rawRoot, mirRoot)
    })
    (GraftTable.load(s, rRaw), GraftTable.load(s, rMir))
  }

  /** STRING-keyed bloom fixture: events plus `skey` (the event id as a
    * string — the content-hash-doc-id shape), %3 slices so ids scatter
    * across every commit's files; bloomCol = skey exercises the hashed
    * (xxhash64) bloom scheme that indexes any type. */
  private val strBloomFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** TIMESTAMP-indexed fixture: `ts` is an indexCols dimension, so every
    * file records a self-describing tw: window (epoch micros). The SQL
    * MIN/MAX/COUNT gate row then serves from manifest metadata (the
    * PlanSpec pins the constant-row plan; the gate pins the VALUES). */
  private val tsWindowFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def tsWindowTable(s: SparkSession, d: String): GraftTable = {
    val root = tsWindowFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("tsagg" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/tsagg_$key"
      val tt = new GraftTable(s, r, indexCols = Seq("ts"))
      val ev = events(s, d)
      (0L to 2L).foreach(v =>
        tt.append(ev.filter(pmod($"event_id", lit(3L)) === v)))
      r
    })
    GraftTable.load(s, root)
  }

  /** COLUMN-MAPPING fixture: rename + drop + re-add across appends, all
    * metadata-only — the lifecycle a long-lived table actually goes
    * through. Slices land before the rename (physical `value`), after it
    * (logical `amount`, same physical), and after a drop + re-add of
    * `event_type` (fresh physical — old values must never resurrect). */
  private val cmFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def cmTable(s: SparkSession, d: String): GraftTable = {
    val root = cmFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("cm" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/cm_$key"
      val t = new GraftTable(s, r)
      val ev = events(s, d)
      val slice = (v: Long) => ev.filter(pmod($"event_id", lit(3L)) === v)
      t.append(slice(0L))                                   // v1: 'value'
      t.renameColumn("value", "amount")                     // v2: metadata-only
      t.append(slice(1L).withColumnRenamed("value", "amount")) // v3
      t.dropColumn("event_type")                            // v4: hidden
      t.addColumn("event_type",
        org.apache.spark.sql.types.StringType)              // v5: fresh physical
      t.append(slice(2L).withColumnRenamed("value", "amount")
        .withColumn("event_type", upper($"event_type")))    // v6
      r
    })
    GraftTable.load(s, root)
  }

  private def strBloomTable(s: SparkSession, d: String): GraftTable = {
    val root = strBloomFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("strbloom" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/strbloom_$key"
      val bt = new GraftTable(s, r, bloomCol = Some("skey"))
      val ev = events(s, d).withColumn("skey", $"event_id".cast("string"))
      (0L to 2L).foreach(v =>
        bt.append(ev.filter(pmod($"event_id", lit(3L)) === v)))
      r
    })
    GraftTable.load(s, root)
  }

  /** Merge-on-read UPDATE fixture: appends, then a small API update that
    * takes the deletion-vector path (old rows masked, updated copies
    * appended — zero original files rewritten; DeletionVectorSpec pins
    * the physical invariants, this fixture feeds the row-level gate). */
  private val dvUpdateFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def dvUpdateTable(s: SparkSession, d: String): GraftTable = {
    val root = dvUpdateFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("dvupd" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/dvupd_$key"
      val t = new GraftTable(s, r)
      (0L to 2L).foreach(v =>
        t.append(events(s, d).filter(pmod($"event_id", lit(3L)) === v)))
      // doubling a double is exponent arithmetic — bit-exact cross-engine
      t.update(pmod($"user_id", lit(50L)) === 7L,
        Map("value" -> (col("value") * 2)))
      t.delete(pmod($"user_id", lit(50L)) === 13L)
      r
    })
    GraftTable.load(s, root)
  }

  /** Ingest-dedup fixture: seed with the %3==0 slice, then appendUnique
    * the OVERLAPPING %2==0 slice keyed on event_id (bloom-indexed) —
    * only the genuinely new ids may land, however often the "crawler"
    * re-delivers. */
  private val appendUniqueFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def appendUniqueTable(s: SparkSession, d: String): GraftTable = {
    val root = appendUniqueFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("appuniq" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val r = s"$acidDir/appuniq_$key"
      val t = new GraftTable(s, r, bloomCol = Some("event_id"))
      val ev = events(s, d)
      t.append(ev.filter(pmod($"event_id", lit(3L)) === 0L))
      t.appendUnique(ev.filter(pmod($"event_id", lit(2L)) === 0L), "event_id")
      // a full re-delivery of both batches must add NOTHING
      t.appendUnique(ev.filter(
        pmod($"event_id", lit(3L)) === 0L || pmod($"event_id", lit(2L)) === 0L),
        "event_id")
      r
    })
    GraftTable.load(s, root)
  }

  private def streamSinkTable(s: SparkSession, d: String): GraftTable = {
    val root = streamSinkFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val key = java.lang.Long.toHexString(
        java.util.UUID.nameUUIDFromBytes(("ssink" + d).getBytes("UTF-8"))
          .getMostSignificantBits)
      val at = tables(s, d)._2
      val down = s"$acidDir/ssink_$key"
      val ckpt = s"$acidDir/ssink_ckpt_$key"
      val q = s.readStream.format("graft-table").option("path", at.root).load()
        .filter($"_change" === "insert")
        .drop("_change", "_commit_version")
        .writeStream.format("graft-table")
        .option("path", down).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      down
    })
    GraftTable.load(s, root)
  }

  /** Build EVERY once-per-JVM ACID fixture family (r16 directive #6).
    * Until round 16 only the families on Bench's hand-kept warm list
    * built outside the timed region; each family missing from that list
    * (cdfmerge, widen, sidecarcp, recluster, ...) paid its full ingest
    * inside its first gate's timed window — the structural part of
    * BENCH_r16's single-pass total running ~4.5x the steady sum. One
    * call per builder; all are computeIfAbsent-memoized no-ops after. */
  override def warm(s: SparkSession, d: String): Unit = {
    tables(s, d); sqlDmlTables(s, d); evoTable(s, d); widenTable(s, d)
    cdfTable(s, d); cdcDeltaTable(s, d); cdcMirrorTable(s, d)
    cdcAggTable(s, d); sqlCdcAggTable(s, d); cdfServedTable(s, d)
    cdfMergeTable(s, d); mergeEvolveTable(s, d); rowTrackingTable(s, d)
    rowTrackingPartTable(s, d); restoreTable(s, d); zorderTable(s, d)
    hilbertTable(s, d); zorderIncTable(s, d); convertTable(s, d)
    sidecarCpTable(s, d); multiTables(s, d); streamSinkTable(s, d)
    streamDedupTable(s, d); mixedTxnTables(s, d); reclusterTable(s, d)
    replaceWhereTables(s, d); sqlAtomicMergeTables(s, d)
    strBloomTable(s, d); tsWindowTable(s, d); cmTable(s, d)
    dvUpdateTable(s, d); appendUniqueTable(s, d)
    ()
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // MERGE through the commit log: after append(0) + merge(1) + merge(2)
    // the snapshot must hold exactly the latest event per user over ALL
    // events — same contract as q_stream_upsert, now with real atomic
    // version swaps instead of the versioned-directory emulation.
    "q_acid_merge" -> { (s, d) =>
      import s.implicits._
      tables(s, d)._1.snapshot().orderBy($"user_id")
    },

    // Time travel: each retained version of the append table reads back
    // its exact historical content (immutable files + per-version
    // manifest), summarized per version.
    "q_acid_time_travel" -> { (s, d) =>
      import s.implicits._
      val at = tables(s, d)._2
      at.versions.map { v =>
        at.snapshot(Some(v))
          .agg(asLong(count(lit(1))).as("n_rows"),
               asDouble(sum(dec($"value"))).as("sum_value"))
          .select(lit(v).as("version"), $"n_rows", $"sum_value")
      }.reduce(_.unionByName(_)).orderBy($"version")
    },

    // Change feed v1 -> v3 of the merge table: the row-level diff an
    // incremental consumer replays — inserts are v3-only rows (new
    // winners), deletes are v1 rows a later event displaced.
    "q_acid_change_feed" -> { (s, d) =>
      import s.implicits._
      tables(s, d)._1.changeFeed(1L, 3L)
        .orderBy($"_change", $"user_id", $"event_id")
    },

    // The same net diff consumed as a COMPOSABLE RELATION: the
    // table_changes() TVF (the Delta table_changes read face,
    // extension-injected — derived session) aggregated inside an
    // ordinary SELECT. Exact DECIMAL sums pin every netted row's value;
    // the final DOUBLE cast is the pack's cross-engine hashing
    // convention (QueryPack.scala doc — the r16 bisection proved every
    // raw-row layer driver-green and the raw DECIMAL output column was
    // the only divergent surface).
    "q_acid_sql_table_changes" -> { (s, d) =>
      val t = tables(s, d)._1
      val s2 = graft.GraftSession.withExtensions(s)
      val out = s2.sql(
        s"""SELECT _change, event_type, count(*) AS n,
           |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
           |    AS sum_value
           |FROM table_changes('${t.root}', 1, 3)
           |GROUP BY _change, event_type
           |ORDER BY _change, event_type""".stripMargin)
      val rows = out.collect().toIndexedSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },

    // BISECTION COMPANION (r15 directive #1b): the table_changes() TVF
    // output UN-aggregated, on the derived session — must equal the
    // driver-green q_acid_change_feed byte for byte (same feed, same
    // oracle). Red here with q_acid_change_feed green = the derived
    // session evaluates the feed differently than the main session;
    // green here with q_acid_sql_table_changes red = the DECIMAL
    // aggregation step on the derived session is the diverging layer.
    "q_acid_tvf_rows" -> { (s, d) =>
      val t = tables(s, d)._1
      val s2 = graft.GraftSession.withExtensions(s)
      val out = s2.sql(
        s"""SELECT event_id, user_id, ts, event_type, value, _change
           |FROM table_changes('${t.root}', 1, 3)
           |ORDER BY _change, user_id, event_id""".stripMargin)
      val rows = out.collect().toIndexedSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },

    // OPTIMIZE: after three appends + compact-to-4-files, the snapshot
    // must still be the COMPLETE event set (content-lossless rewrite;
    // AcidTableSpec pins the file-count collapse and the pre-compaction
    // version staying time-travelable).
    "q_acid_compact" -> { (s, d) =>
      import s.implicits._
      tables(s, d)._3.snapshot().orderBy($"event_id")
    },

    // Row-level DELETE (right-to-be-forgotten): after erasing every
    // user_id % 10 == 0 event, the snapshot holds exactly the remaining
    // rows — and the erased users' history leaves physical storage once
    // the prior versions vacuum out (AcidTableSpec pins that two-step).
    "q_acid_delete" -> { (s, d) =>
      import s.implicits._
      tables(s, d)._4.snapshot().orderBy($"event_id")
    },

    // Partition-scoped MERGE: the same latest-per-user contract as
    // q_acid_merge, but on a pid-partitioned table where each merge
    // rewrote only the files whose partition window the updates touched
    // (AcidTableSpec pins the untouched-files-carry-over invariant; this
    // row pins that the scoped rewrite loses/duplicates no rows).
    "q_acid_partition_merge" -> { (s, d) =>
      import s.implicits._
      tables(s, d)._6.snapshot().orderBy($"user_id")
    },

    // CDC apply: a downstream mirror seeded at the merge table's v1
    // replays the v1->v3 change feed via applyChanges and must land on
    // exactly v3's content (the latest-per-user state) — the incremental
    // sync loop (O(delta) feed -> one commit) a consumer runs instead of
    // re-reading the source. The mirror is a per-JVM fixture like every
    // other ACID table; this row READS its snapshot.
    "q_acid_apply_changes" -> { (s, d) =>
      import s.implicits._
      tables(s, d)._8.snapshot().orderBy($"user_id")
    },

    // The table AS a streaming CDC source — BOUNDED-DELTA shape
    // (re-founded per the r12 directive: the previous form replayed the
    // dedup merge table, whose changes are O(table) by construction):
    // readStream("graft-table") with readChangeFeed=true and
    // startingVersion=2 streams ONLY the two key-bounded delta commits
    // of the user_id-clustered fixture. Scan AND emitted rows are
    // O(touched band) at every SF — the scoped merge's carried neighbor
    // rows cancel in the netting, the DV delete nets to the masked rows
    // — the O(delta)-per-batch change stream a 100 TB mirror consumes.
    // Raw file-diff semantics stay gate-covered by q_acid_stream_sink
    // and q_pipeline_bus_to_table; the initial-load replay by
    // q_acid_stream_cdc. The drain is synchronous (AvailableNow ->
    // memory sink).
    "q_acid_stream_feed" -> { (s, d) =>
      import s.implicits._
      val dt = cdcDeltaTable(s, d)
      val feed = s.readStream.format("graft-table")
        .option("path", dt.root)
        .option("maxVersionsPerBatch", "1")
        .option("readChangeFeed", "true")
        .option("startingVersion", "2")
        .load()
      runToMemory(feed, "append")
        .orderBy($"_commit_version", $"_change", $"user_id")
    },

    // KEYED streaming CDC (readChangeFeed + changeFeedKeys): the cdf
    // table's commits replay as classified per-user rows — batch @1 is
    // v1's content as inserts, batch @2 pairs each changed user into
    // update_preimage/update_postimage (first-seen users insert) — the
    // streaming face of q_acid_cdf, one classification code path
    // (GraftTable.classifyKeyed) behind both.
    "q_acid_stream_cdc" -> { (s, d) =>
      import s.implicits._
      val ct = cdfTable(s, d)
      val feed = s.readStream.format("graft-table")
        .option("path", ct.root)
        .option("maxVersionsPerBatch", "1")
        .option("readChangeFeed", "true")
        .option("changeFeedKeys", "user_id")
        .load()
      runToMemory(feed, "append")
        .orderBy($"_commit_version", $"user_id", $"_change")
    },

    // PERSISTED change-data serve (write-side CDF): the fixture's DV
    // UPDATE and DV DELETE commits wrote their net row changes at commit
    // time; this keyed CDC stream (startingVersion=2) is served from
    // those KB-scale files alone — zero base-data reads, no per-consumer
    // exceptAll recompute (ChangeDataFilesSpec pins both the scan-set
    // and the served≡computed identity; this row pins row-level content
    // through the full streaming face).
    "q_acid_stream_cdc_served" -> { (s, d) =>
      import s.implicits._
      val ct = cdfServedTable(s, d)
      val feed = s.readStream.format("graft-table")
        .option("path", ct.root)
        .option("maxVersionsPerBatch", "1")
        .option("readChangeFeed", "true")
        .option("changeFeedKeys", "user_id")
        .option("startingVersion", "2")
        .load()
      runToMemory(feed, "append")
        .orderBy($"_commit_version", $"user_id", $"_change")
    },

    // Round 17 (r16 directive #3, finishing r15 #5): the STREAMING
    // timestamp face — readStream("graft-table") with
    // startingTimestamp = v2's in-commit stamp drains exactly the merge
    // commit's net diff and nothing earlier ("stream the changes since
    // last night" without knowing version numbers — the Delta
    // startingTimestamp contract, inclusive boundary). In-commit stamps
    // are strictly monotone (GraftTable clamps ts to prev+1), so the
    // boundary resolves deterministically; the batch face of the same
    // window is driver-green as q_acid_cdc_by_timestamp.
    "q_acid_stream_from_ts" -> { (s, d) =>
      import s.implicits._
      val t = cdfMergeTable(s, d)
      val fromTs = t.history().find(_.version == 2L).get.commitMs
      val feed = s.readStream.format("graft-table")
        .option("path", t.root)
        .option("maxVersionsPerBatch", "1")
        .option("readChangeFeed", "true")
        .option("startingTimestamp", fromTs.toString)
        .load()
      runToMemory(feed, "append")
        .orderBy($"_commit_version", $"user_id", $"_change", $"event_id")
    },

    // The BOUNDED streaming CDC mirror: the keyed feed applied per batch
    // via applyChangesKeyed on a key-indexed mirror — each batch rewrites
    // only the files that can hold a touched key (blooms/windows prune),
    // never the table. The mirror snapshot must hash-match the source's
    // latest state (the CDC-replay identity, end to end through the
    // stream).
    "q_acid_stream_cdc_mirror" -> { (s, d) =>
      import s.implicits._
      cdcMirrorTable(s, d).snapshot().orderBy($"user_id")
    },

    // SQL-over-named-tables through the graft TableCatalog: the append
    // fixture read by name with VERSION AS OF time travel — the same
    // per-version aggregate as q_acid_time_travel, but the entire query
    // surface is SQL (catalog registration + identifier resolution +
    // DSv2 parquet scan + version pinning), the reference's "any SQL you
    // want" interface over the ACID log. GraftCatalogSpec pins INSERT
    // INTO / TIMESTAMP AS OF / pushdown; this row pins SQL read parity.
    "q_acid_sql" -> { (s, d) =>
      import s.implicits._
      val at = tables(s, d)._2
      val c = withCatalog(s)
      val name = new Path(at.root).getName
      (1 to 3).map { v =>
        c.sql(
          s"""SELECT CAST($v AS BIGINT) AS version, count(*) AS n_rows,
             |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
             |FROM graft.`$name` VERSION AS OF $v""".stripMargin)
      }.reduce(_.unionByName(_)).orderBy($"version")
    },

    // SQL UPDATE through the catalog: value doubled for one partition via
    // plain SQL, routed through the commit log's partition-scoped rewrite
    // (only pid-3 files rewrote — GraftCatalogSpec pins the file
    // carry-over; this row pins every value, touched and untouched).
    "q_acid_sql_update" -> { (s, d) =>
      import s.implicits._
      sqlDmlTables(s, d)._1.snapshot().orderBy($"event_id")
    },

    // SQL MERGE INTO through the catalog: the CDC upsert (matched-and-
    // newer update / not-matched insert) lands the latest-per-user state,
    // and because ON pins the partition column the merge rewrote only
    // impacted partitions. Same end-state contract as q_acid_merge, now
    // produced entirely by a SQL statement.
    "q_acid_sql_merge" -> { (s, d) =>
      import s.implicits._
      sqlDmlTables(s, d)._2.snapshot().orderBy($"user_id")
    },

    // Table-to-table streaming pipeline: the append table's commits flow
    // through readStream("graft-table") into a downstream ACID table via
    // writeStream("graft-table") — txn-stamped exactly-once commits on
    // the sink side, no foreachBatch. The downstream snapshot must hold
    // exactly the upstream content (every appended row once).
    "q_acid_stream_sink" -> { (s, d) =>
      import s.implicits._
      streamSinkTable(s, d).snapshot().orderBy($"event_id")
    },

    // Schema evolution: ALTER TABLE ADD COLUMNS as a metadata-only
    // commit. The even-id half committed BEFORE the evolution (its files
    // physically lack `vtag` and must project NULL), the odd-id half
    // after, carrying values — one snapshot read spans both file
    // generations under the declared schema. SchemaEvolutionSpec pins
    // the zero-rewrite invariant and per-version schema time travel.
    "q_acid_evolution" -> { (s, d) =>
      import s.implicits._
      evoTable(s, d).snapshot().orderBy($"event_id")
    },

    // ALTER CLUSTER KEYS + incremental OPTIMIZE migration: a pruned
    // range read on the NEW key over the re-keyed, migrated table —
    // exact rows prove the metadata-only re-key and the lazy file
    // migration lost and duplicated nothing (ZOrderSpec pins the
    // mixed-generation pruning and tag convergence).
    "q_acid_recluster" -> { (s, d) =>
      import s.implicits._
      reclusterTable(s, d).snapshotRangeOn("event_id", 100L, 4999L)
        .orderBy($"event_id")
    },

    // SELECTIVE ATOMIC OVERWRITE (replaceWhere): one commit replaced
    // every user_id <= 30 row with its re-scored copy — out-of-scope
    // files carried over verbatim, scoped by the user_id windows
    // (ReplaceWhereSpec pins scoping, validation, CDC serve, and row-id
    // minting); this row pins the final content.
    "q_acid_replace_where" -> { (s, d) =>
      import s.implicits._
      replaceWhereTables(s, d)._1.snapshot().orderBy($"event_id")
    },

    // The same overwrite through the SQL face (INSERT INTO ... REPLACE
    // WHERE, parser-injected): grammar, positional column alignment, and
    // the same one-commit semantics.
    "q_acid_sql_replace_where" -> { (s, d) =>
      import s.implicits._
      replaceWhereTables(s, d)._2.snapshot().orderBy($"event_id")
    },

    // SQL COMMIT ATOMIC with a MERGE INTO participant: the mirror's
    // latest-per-user state next to the raw table's count — both only
    // hold if every INSERT+MERGE pair landed atomically, and the merge
    // carried full ANSI semantics (conditioned matched-update) inside
    // the txn.
    "q_acid_sql_atomic_merge" -> { (s, d) =>
      import s.implicits._
      val (raw, mir) = sqlAtomicMergeTables(s, d)
      val rawRows = raw.snapshot().agg(asLong(count(lit(1))).as("raw_rows"))
      mir.snapshot().crossJoin(broadcast(rawRows)).orderBy($"user_id")
    },

    // DECIMAL type widening: the widened money column replayed against
    // the oracle — the narrow (pre-widen, decimal(10,2)) files must read
    // back exact under the wide decimal(16,2) schema with zero rewrite,
    // next to post-widen files whose values need the new precision. The
    // comparison is on the STRING form so both engines state the same
    // scale-2 rendering.
    "q_acid_widen_decimal" -> { (s, d) =>
      import s.implicits._
      widenTable(s, d).snapshot()
        .select($"event_id", $"user_id",
          $"amount".cast("string").as("amount"))
        .orderBy($"event_id")
    },

    // Keyed CDF: the v1->v2 row diff re-classified per user_id — a user
    // whose live row CHANGED surfaces as an update_preimage/postimage
    // PAIR, a first-seen user as insert (no user disappears here). The
    // classification only matches the oracle if the join pairs exactly
    // the keys present on both sides of the multiset diff.
    "q_acid_cdf" -> { (s, d) =>
      import s.implicits._
      cdfTable(s, d).changeFeedKeyed(1L, 2L, Seq("user_id"))
        .orderBy($"user_id", $"_change")
    },

    // Round 14: a cold read resolved ENTIRELY through the SIDECAR
    // (incremental) parquet checkpoint — the fixture vacuumed the
    // manifest chain away, so this snapshot materializes from the shard
    // dirs (most re-referenced, not rewritten, by the later commits'
    // incremental checkpoints) + the head manifest's DV masks.
    "q_acid_sidecar_checkpoint" -> { (s, d) =>
      import s.implicits._
      sidecarCpTable(s, d).snapshot().orderBy($"event_id")
    },

    // Round 14: the PER-COMMIT attributed change feed (the Delta
    // table_changes shape): each version's own net diff tagged with
    // _commit_version — v1 is the seed's blind-add inserts (served from
    // its added files), v2 the merge's persisted change files; with
    // write-side CDF on, the whole attributed read opens no base data
    // (MergeChangeDataSpec pins the zero-base-file property).
    "q_acid_cdc_by_version" -> { (s, d) =>
      import s.implicits._
      cdfMergeTable(s, d).changeFeedByVersion(0L, 2L)
        .drop("_commit_timestamp")
        .orderBy($"_commit_version", $"user_id", $"_change", $"event_id")
    },

    // Round 16 (r15 directive #5): the SAME attributed feed selected by
    // WALL-CLOCK — fromTs = v1's commit stamp (first-at-or-after → v1),
    // toTs = v2's (last-at-or-before → v2), so the window resolves to
    // exactly (0, 2] through the monotone ts= headers; the oracle
    // replays that version range. A consumer pins "since last night"
    // without knowing version numbers — the Delta table_changes
    // timestamp contract.
    "q_acid_cdc_by_timestamp" -> { (s, d) =>
      import s.implicits._
      val t = cdfMergeTable(s, d)
      val h = t.history()
      val fromTs = h.find(_.version == 1L).get.commitMs
      val toTs = h.find(_.version == 2L).get.commitMs
      t.changeFeedByTimestamp(fromTs, toTs)
        .drop("_commit_timestamp")
        .orderBy($"_commit_version", $"user_id", $"_change", $"event_id")
    },

    // Round 14: the INCREMENTALLY-MAINTAINED aggregate mirror — the
    // keyed CDC stream folded into per-event_type (count, exact DECIMAL
    // sum) state batch by batch; must equal the full recompute over the
    // source's final latest-per-user state (the materialized-view
    // identity, exact by DECIMAL additivity).
    // Final sum re-typed to DOUBLE per the pack's cross-engine hashing
    // convention (exact DECIMAL internally; the double cast is
    // deterministic and identical in both engines).
    "q_acid_cdc_agg" -> { (s, d) =>
      import s.implicits._
      cdcAggTable(s, d).snapshot()
        .select($"event_type", $"n",
          $"sum_value".cast("double").as("sum_value"))
        .orderBy($"event_type")
    },

    // Round 16 (r15 directive #6): the aggregate mirror maintained
    // through SQL ALONE — per-version APPLY CHANGES INTO ... KEY/SUM/
    // TXN statements on the derived session — must land on the same
    // recompute identity as the API-maintained q_acid_cdc_agg mirror.
    "q_acid_sql_cdc_agg" -> { (s, d) =>
      import s.implicits._
      sqlCdcAggTable(s, d).snapshot()
        .select($"event_type", $"n",
          $"sum_value".cast("double").as("sum_value"))
        .orderBy($"event_type")
    },

    // BISECTION COMPANION (r15 directive #1a): the SOURCE layer behind
    // q_acid_cdc_agg — the same DECIMAL aggregate computed by a full
    // recompute over the cdf table's final snapshot on the MAIN session,
    // no change feed, no mirror, no fold. Red here = the source fixture
    // state itself diverges in the driver environment.
    "q_acid_cdc_agg_src" -> { (s, d) =>
      import s.implicits._
      cdfTable(s, d).snapshot()
        .groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          sum($"value".cast("decimal(28,6)")).cast("double")
            .as("sum_value"))
        .orderBy($"event_type")
    },

    // Round 17 DISCRIMINATOR PROBE (r16 directive #2), RETIRED TO GREEN
    // in round 18 (r17 directive #2): the probe ran once with the raw
    // DECIMAL(38,6) column alongside the DOUBLE and CORRECTNESS_r17
    // recorded its answer — rows+schema green, hash red — proving the
    // r16 divergence was representation-level DECIMAL hashing in the
    // driver's hasher, not a value difference. With that on record the
    // DECIMAL column has done its job; it is dropped (both sides) so the
    // gate measures the same aggregate under the cross-engine DOUBLE
    // convention like its siblings.
    "q_acid_decimal_probe" -> { (s, d) =>
      import s.implicits._
      cdfTable(s, d).snapshot()
        .groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n"),
          sum($"value".cast("decimal(28,6)")).cast("double")
            .as("sum_d"))
        .orderBy($"event_type")
    },

    // BISECTION COMPANION (r15 directive #1c): the FEED layer — the same
    // aggregate folded as ±deltas directly from the per-version change
    // feeds on the MAIN session, in one DataFrame expression (no mirror
    // table, no applyChangesAgg, no txn machinery). DECIMAL additivity
    // makes the fold exactly equal the recompute. Red here (with _src
    // green) = the change feed diverges; green here with q_acid_cdc_agg
    // red = the applyChangesAgg fold or its commit path diverges.
    "q_acid_cdc_agg_api" -> { (s, d) =>
      import s.implicits._
      val src = cdfTable(s, d)
      val lv = src.latestVersion.getOrElse(0L)
      src.changeFeedByVersion(0L, lv)
        .withColumn("__sgn",
          when($"_change".isin("insert", "update_postimage"), 1L)
            .otherwise(lit(-1L)))
        .groupBy($"event_type")
        .agg(sum($"__sgn").cast("long").as("n"),
          sum($"value".cast("decimal(28,6)") * $"__sgn")
            .cast("double").as("sum_value"))
        .filter($"n" =!= 0L)
        .orderBy($"event_type")
    },

    // Round 14: MERGE with schema evolution — the matched branch's
    // assignment to a column the table lacked adds it (typed by the
    // plan-time probe), inserts carry it, and every untouched row —
    // including rows in files the scoped rewrite never touched — reads
    // it as NULL through the evolved declared schema.
    "q_acid_merge_evolve" -> { (s, d) =>
      import s.implicits._
      mergeEvolveTable(s, d).snapshot().orderBy($"user_id", $"event_id")
    },

    // Round 14: the change feed of a MERGE commit served from its
    // PERSISTED change files (written once at commit by netting the
    // merge's written files against its consumed files) — no base-file
    // reads, no per-consumer recompute (MergeChangeDataSpec pins the
    // zero-base-file property; this row pins the values).
    "q_acid_cdf_merge" -> { (s, d) =>
      import s.implicits._
      cdfMergeTable(s, d).changeFeed(1L, 2L)
        .orderBy($"user_id", $"_change", $"event_id")
    },

    // RESTORE TABLE ... TO VERSION AS OF 2: the rollback commit
    // re-references v2's files, so the snapshot is exactly the first two
    // %3 slices even though a third slice landed in between.
    "q_acid_restore" -> { (s, d) =>
      import s.implicits._
      restoreTable(s, d).snapshot().orderBy($"event_id")
    },

    // OPTIMIZE ZORDER BY (user_id, event_id): after the interleaved-bit
    // rewrite, BOTH dimensions' range reads resolve their file lists
    // from manifest windows. Two pruned reads — one per dimension —
    // must return exactly the filters' rows (pruning never drops a row).
    "q_acid_zorder" -> { (s, d) =>
      import s.implicits._
      val zt = zorderTable(s, d)
      zt.snapshotRangeOn("user_id", 20L, 60L)
        .unionByName(zt.snapshotRangeOn("event_id", 1000L, 1999L))
        .orderBy($"event_id", $"user_id")
    },

    // HILBERT layout (OPTIMIZE ... HILBERT BY): the same two pruned
    // range reads over a Hilbert-clustered table — the walk never jumps,
    // so files cover tight windows in both dimensions without the
    // Morton curve's seam teleports; content must replay exactly.
    "q_acid_hilbert" -> { (s, d) =>
      import s.implicits._
      val ht = hilbertTable(s, d)
      ht.snapshotRangeOn("user_id", 20L, 60L)
        .unionByName(ht.snapshotRangeOn("event_id", 1000L, 1999L))
        .orderBy($"event_id", $"user_id")
    },

    // CONVERT TO graft: a plain parquet dump of events adopted in place
    // (zero rewrite, profiled stats+blooms), then a DV DELETE masking
    // rows INSIDE the adopted files and a native append re-landing them
    // doubled — the lake-to-lakehouse migration path, end to end.
    "q_acid_convert" -> { (s, d) =>
      import s.implicits._
      convertTable(s, d).snapshot().orderBy($"event_id")
    },

    // MULTI-TABLE ATOMIC COMMIT: every batch landed in the raw table AND
    // the per-type stats table in one transaction (shared decision
    // marker), so the summed batch counts reconcile EXACTLY with the raw
    // rows — the oracle joins the raw table against the same aggregate
    // computed from scratch. A half-committed batch (raw without stats
    // or vice versa) would break the counts on every row of its type.
    "q_acid_multi_table" -> { (s, d) =>
      import s.implicits._
      val (raw, st, _) = multiTables(s, d)
      val totals = st.snapshot().groupBy($"event_type")
        .agg(sum($"n").cast("long").as("type_rows"))
      raw.snapshot().join(broadcast(totals), Seq("event_type"))
        .select($"event_id", $"user_id", $"event_type", $"type_rows")
        .orderBy($"event_id")
    },

    // KEYLESS CDC via ROW TRACKING: the rowTracking fixture's DV update
    // classified by `_row_id` — every updated row pairs into
    // update_preimage/update_postimage with NO business key declared
    // (the ids were minted at ingest and preserved through the DV
    // update's post-image append). Output states business columns only;
    // the ids themselves are fixture-run-dependent and never surface.
    "q_acid_row_tracking" -> { (s, d) =>
      import s.implicits._
      rowTrackingTable(s, d).changeFeedKeyed(1L, 2L, Seq("_row_id"))
        .select($"event_id", $"user_id", $"value", $"_change")
        .orderBy($"event_id", $"_change")
    },

    // PARTITIONED row tracking: the duplicate-id regression gate. Every
    // source batch is 16-wide while the partitioned table clusters down
    // to 4 bucket partitions before writing — an unpinned watermark
    // span re-mints live ids on the second append. The compare pins BOTH
    // id uniqueness (n_ids == n_rows) and that the keyless CDC pairing
    // still classifies cleanly (no unpaired insert/delete noise from
    // colliding ids merging unrelated rows' images).
    "q_acid_row_tracking_part" -> { (s, d) =>
      import s.implicits._
      val t = rowTrackingPartTable(s, d)
      val uniq = t.snapshot().agg(
        count(lit(1)).cast("long").as("n_rows"),
        countDistinct($"_row_id").cast("long").as("n_ids"))
      t.changeFeedKeyed(2L, 3L, Seq("_row_id"))
        .groupBy($"_change").agg(count(lit(1)).cast("long").as("n"))
        .crossJoin(broadcast(uniq))
        .orderBy($"_change")
    },

    // STREAMING INGEST-DEDUP: three overlapping upstream batches (batch
    // r re-delivers every prior batch's rows) landed through the sink's
    // dedupKey=event_id — the downstream table must hold every
    // delivered key exactly once, the crawl-landing exactly-once shape.
    "q_acid_stream_dedup_sink" -> { (s, d) =>
      import s.implicits._
      streamDedupTable(s, d).snapshot()
        .select($"event_id", $"user_id", $"ts", $"event_type", $"value")
        .orderBy($"event_id")
    },

    // CROSS-TABLE SNAPSHOT-CONSISTENT READ: the raw+stats pair pinned AT
    // the middle txn via snapshotsAtTxn — the read-side face of COMMIT
    // ATOMIC. Both tables serve exactly the first TWO slices (the later
    // third txn is invisible to the pin), so the raw-side recount and
    // the stats-side running sum must reconcile EXACTLY per event_type —
    // a reader seeing A@txn1 with B@txn2 breaks the equality on every
    // row. MultiTableCommitSpec pins the racing-reader invariant; this
    // row pins content through the public API.
    "q_acid_txn_read" -> { (s, d) =>
      import s.implicits._
      val (raw, st, txnId) = multiTables(s, d)
      val pinned = GraftTable.snapshotsAtTxn(s, txnId)
      val rawSide = pinned(raw.root).groupBy($"event_type")
        .agg(count(lit(1)).cast("long").as("n_raw"))
      val statsSide = pinned(st.root).groupBy($"event_type")
        .agg(sum($"n").cast("long").as("n_stats"))
      rawSide.join(broadcast(statsSide), Seq("event_type"))
        .orderBy($"event_type")
    },

    // The SQL face of the same pinned read: SELECT over the
    // snapshot_at_txn() table-valued function (parser/extension-injected
    // — so it runs on a DERIVED session, the q_acid_sql_atomic_merge
    // pattern) joining the raw+stats pair through SQL ALONE, pinned at
    // the middle txn. Must hash-match the API gate's oracle exactly.
    "q_acid_sql_txn_read" -> { (s, d) =>
      val (raw, st, txnId) = multiTables(s, d)
      val s2 = graft.GraftSession.withExtensions(s)
      val out = s2.sql(
        s"""SELECT r.event_type, count(*) AS n_raw, max(t.n_stats) AS n_stats
           |FROM snapshot_at_txn('${raw.root}', '$txnId') r
           |JOIN (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_stats
           |      FROM snapshot_at_txn('${st.root}', '$txnId')
           |      GROUP BY event_type) t
           |  ON r.event_type = t.event_type
           |GROUP BY r.event_type ORDER BY r.event_type""".stripMargin)
      // a tiny result: re-host it on the CALLER's session (the dump path
      // writes through `s`, not the derived session)
      val rows = out.collect().toIndexedSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), out.schema)
    },

    // GENERALIZED multi-table txn: each step atomically APPENDED a slice
    // to raw and DV-DELETED a user band from the mirror. The mirror must
    // hold exactly the never-deleted bands AND raw the full event set —
    // the single-row raw count rides every output row so a half-committed
    // step breaks the compare everywhere.
    "q_acid_multi_table_mixed" -> { (s, d) =>
      import s.implicits._
      val (raw, mir) = mixedTxnTables(s, d)
      val total = raw.snapshot()
        .agg(count(lit(1)).cast("long").as("raw_rows"))
      mir.snapshot().select($"event_id", $"user_id", $"event_type")
        .crossJoin(broadcast(total))
        .orderBy($"event_id")
    },

    // INCREMENTAL zorder (OPTIMIZE ... ZORDER BY ... INCREMENTAL): half
    // the table laid by a full pass, half by the O(tail) incremental
    // pass after a scattered ingest burst — a pruned range read across
    // BOTH layout generations must return exactly the filter's rows.
    "q_acid_zorder_inc" -> { (s, d) =>
      import s.implicits._
      zorderIncTable(s, d)
        .snapshotWhere($"user_id" >= 20L && $"user_id" <= 60L)
        .orderBy($"event_id")
    },

    // Unified predicate-driven skipping: one compound predicate over the
    // z-ordered table; snapshotWhere derives the file list from BOTH
    // dimensions' manifest windows at once (PredicateSkippingSpec pins
    // the 2-D pruning counts), then applies the exact filter — rows must
    // equal the oracle's plain WHERE.
    "q_acid_where" -> { (s, d) =>
      import s.implicits._
      zorderTable(s, d)
        .snapshotWhere($"user_id" >= 20L && $"user_id" <= 60L &&
          $"event_id" >= 1000L && $"event_id" <= 4999L)
        .orderBy($"event_id")
    },

    // Bloom-indexed point lookups: three needle reads on event_id, each
    // resolving its file list from the per-file manifest blooms (the ids
    // are scattered across every commit's files, so min/max windows
    // cannot prune — AcidTableSpec pins the bloom's file-count cut).
    "q_acid_point" -> { (s, d) =>
      import s.implicits._
      val bt = tables(s, d)._7
      Seq(100L, 500L, 900L).map(bt.snapshotPoint(_))
        .reduce(_.unionByName(_)).orderBy($"event_id")
    },

    // Manifest data skipping: the range read [40, 90] resolves its file
    // list from manifest min/max stats (the third commit's files never
    // open — AcidTableSpec pins the pruning count) yet returns exactly
    // the filter's rows.
    "q_acid_skipping" -> { (s, d) =>
      import s.implicits._
      tables(s, d)._5.snapshotRange(40L, 90L).orderBy($"event_id")
    },

    // Manifest-SERVED SQL aggregates: unfiltered MIN/MAX over the
    // windowed column + COUNT(*) answer as one constant row from
    // manifest metadata — zero file (or even footer) opens
    // (GraftCatalogSpec pins the LocalTableScan plan and empty
    // inputFiles; this row pins the VALUES against the oracle).
    "q_acid_sql_agg" -> { (s, d) =>
      import s.implicits._
      val st = tables(s, d)._5
      val name = new Path(st.root).getName
      withCatalog(s).sql(s"""SELECT min(user_id) AS min_user, max(user_id) AS max_user,
               |       count(*) AS n_rows FROM graft.`$name`""".stripMargin)
    },

    // Manifest-served MIN/MAX over a TIMESTAMP column: the tw: windows
    // carry catalyst-internal micros — exact witnessed extrema — so the
    // most common fact-table aggregate (`min(ts), max(ts)`) answers as
    // one constant row with zero file opens (PlanSpec pins the
    // LocalTableScan plan; this row pins the VALUES against the oracle).
    "q_acid_sql_ts_agg" -> { (s, d) =>
      val tt = tsWindowTable(s, d)
      val name = new Path(tt.root).getName
      withCatalog(s).sql(s"""SELECT min(ts) AS ts_lo, max(ts) AS ts_hi,
               |       count(*) AS n_rows FROM graft.`$name`""".stripMargin)
    },

    // COLUMN MAPPING (rename + drop + re-add, all metadata-only): the
    // renamed logical reads the original physical column across old AND
    // new files; the dropped-then-re-added column reads NULL for every
    // pre-re-add row (fresh physical name — the one hard rule of column
    // mapping: dropped values never resurrect) and real values after.
    "q_acid_rename" -> { (s, d) =>
      import s.implicits._
      cmTable(s, d).snapshot()
        .select($"event_id", $"user_id", $"ts", $"amount", $"event_type")
        .orderBy($"event_id")
    },

    // STRING-keyed bloom point lookups (the content-hash doc_id shape
    // every LLM dedup pipeline keys on): three needle reads on a string
    // column, each file list resolved from the hashed per-file blooms —
    // min/max windows cannot serve scattered string keys, the xxhash64
    // bloom can (PredicateSkippingSpec pins the file-count cut).
    "q_acid_point_str" -> { (s, d) =>
      import s.implicits._
      val bt = strBloomTable(s, d)
      Seq("100", "500", "900").map(bt.snapshotPointStr(_))
        .reduce(_.unionByName(_)).orderBy($"event_id")
    },

    // Merge-on-read row-level DML: a small UPDATE (DV-mask + appended
    // copies) then a small DELETE (DV-mask only, zero data writes) — the
    // snapshot must read as if both had rewritten in place.
    "q_acid_dv_update" -> { (s, d) =>
      import s.implicits._
      dvUpdateTable(s, d).snapshot().orderBy($"event_id")
    },

    // Ingest-time exact dedup (appendUnique): seed %3==0, appendUnique
    // the overlapping %2==0 slice, then re-deliver EVERYTHING — the
    // table must hold exactly one row per unique event_id with the
    // existing-key probe resolved through the bloom/window indexes.
    "q_acid_append_unique" -> { (s, d) =>
      import s.implicits._
      appendUniqueTable(s, d).snapshot().orderBy($"event_id")
    },

    // SQL over a DELETION-VECTOR table: the dvupd fixture (masked update
    // + masked delete, zero reorg) read through the catalog — the
    // planner-injected anti-join applies the mask under a pushed WHERE,
    // grouped aggregate on top. The row a raw-file scan would resurrect
    // (user_id % 50 = 13) must stay gone.
    "q_acid_sql_dv" -> { (s, d) =>
      import s.implicits._
      val t = dvUpdateTable(s, d)
      val name = new Path(t.root).getName
      withCatalog(s).sql(
        s"""SELECT user_id, count(*) AS n_rows,
           |  CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
           |FROM graft.`$name` WHERE user_id <= 60
           |GROUP BY user_id""".stripMargin).orderBy($"user_id")
    },

    // PATH-based batch read (spark.read.format("graft-table").load):
    // the Delta-style direct-path surface — the same DSv2 face as the
    // catalog (manifest pruning, DV masks, planner stats) with zero
    // catalog registration; a pushed range filter must prune and the
    // rows must equal the plain-WHERE oracle (TableStreamSpec pins the
    // file-count cut, time travel and the DV mask on this surface).
    "q_acid_path_read" -> { (s, d) =>
      import s.implicits._
      val st = tables(s, d)._5
      s.read.format("graft-table").load(st.root)
        .filter($"user_id".between(40L, 90L))
        .orderBy($"event_id")
    },

    // RUNTIME file pruning (the DPP shape, served by the manifest): a
    // star join where the fact side has NO static predicate — only the
    // broadcast dimension's surviving 'hot' keys, arriving at execution
    // time as a runtime IN filter, prune the user_id-clustered fact's
    // file list through its manifest windows
    // (GraftCatalogSpec pins the kept-file cut; this row pins the rows).
    "q_acid_sql_dpp" -> { (s, d) =>
      import s.implicits._
      val st = tables(s, d)._5
      val c = withCatalog(s)
      val name = new Path(st.root).getName
      events(c, d).select($"user_id").distinct()
        .withColumn("cat",
          when($"user_id".between(10L, 30L), "hot").otherwise("cold"))
        .createOrReplaceTempView("graft_dpp_dim")
      c.sql(
        s"""SELECT f.user_id, count(*) AS n_rows,
           |  CAST(sum(CAST(f.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
           |FROM graft.`$name` f JOIN graft_dpp_dim d ON f.user_id = d.user_id
           |WHERE d.cat = 'hot'
           |GROUP BY f.user_id""".stripMargin).orderBy($"user_id")
    }
  )

  override def oracles: Map[String, String] = Map(
    "q_acid_merge" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM (SELECT event_id, user_id, ts, event_type, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // version v of the append table = events with event_id % 3 < v
    "q_acid_time_travel" ->
      """SELECT CAST(v AS BIGINT) AS version, count(*) AS n_rows,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events, unnest([1, 2, 3]) AS u(v)
        |WHERE event_id % 3 < v
        |GROUP BY v ORDER BY version""".stripMargin,

    // v1 = the raw %3==0 slice (plain append, not deduped); v3 = the
    // final latest-per-user state; feed = symmetric EXCEPT ALL tagged
    // insert/delete
    "q_acid_change_feed" ->
      """WITH v1 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM events WHERE event_id % 3 = 0),
        |v3 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events)
        |  WHERE rn = 1),
        |ins AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1),
        |del AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3)
        |SELECT * FROM (
        |  SELECT *, 'insert' AS _change FROM ins
        |  UNION ALL
        |  SELECT *, 'delete' AS _change FROM del)
        |ORDER BY _change, user_id, event_id""".stripMargin,

    // the TVF aggregate over the identical net diff
    "q_acid_sql_table_changes" ->
      """WITH v1 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM events WHERE event_id % 3 = 0),
        |v3 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events)
        |  WHERE rn = 1),
        |ins AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1),
        |del AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3),
        |feed AS (
        |  SELECT *, 'insert' AS _change FROM ins
        |  UNION ALL
        |  SELECT *, 'delete' AS _change FROM del)
        |SELECT _change, event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE)
        |    AS sum_value
        |FROM feed GROUP BY _change, event_type
        |ORDER BY _change, event_type""".stripMargin,

    "q_acid_compact" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    "q_acid_delete" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE user_id % 10 <> 0 ORDER BY event_id""".stripMargin,

    "q_acid_skipping" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE user_id BETWEEN 40 AND 90 ORDER BY event_id""".stripMargin,

    "q_acid_partition_merge" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
        |       user_id % 8 AS pid
        |FROM (SELECT event_id, user_id, ts, event_type, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q_acid_point" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE event_id IN (100, 500, 900) ORDER BY event_id""".stripMargin,

    "q_acid_point_str" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
        |       CAST(event_id AS VARCHAR) AS skey
        |FROM events WHERE event_id IN (100, 500, 900) ORDER BY event_id""".stripMargin,

    "q_acid_dv_update" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |       CASE WHEN user_id % 50 = 7 THEN value * 2 ELSE value END AS value
        |FROM events WHERE user_id % 50 <> 13 ORDER BY event_id""".stripMargin,

    "q_acid_append_unique" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE event_id % 3 = 0 OR event_id % 2 = 0
        |ORDER BY event_id""".stripMargin,

    "q_acid_sql_dv" ->
      """SELECT user_id, count(*) AS n_rows,
        |  CAST(sum(CAST(CASE WHEN user_id % 50 = 7 THEN value * 2
        |                     ELSE value END AS DECIMAL(12,2))) AS DOUBLE)
        |    AS sum_value
        |FROM events WHERE user_id % 50 <> 13 AND user_id <= 60
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_acid_path_read" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE user_id BETWEEN 40 AND 90 ORDER BY event_id""".stripMargin,

    // dim = distinct users tagged hot iff 10 <= user_id <= 30; the star
    // join keeps exactly the hot users' fact rows
    "q_acid_sql_dpp" ->
      """SELECT f.user_id, count(*) AS n_rows,
        |  CAST(sum(CAST(f.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events f
        |JOIN (SELECT DISTINCT user_id FROM events
        |      WHERE user_id BETWEEN 10 AND 30) d
        |  ON f.user_id = d.user_id
        |GROUP BY f.user_id ORDER BY f.user_id""".stripMargin,

    // the pipeline moves every appended row exactly once
    "q_acid_stream_sink" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    // doubling a double is exponent arithmetic — bit-exact cross-engine
    "q_acid_sql_update" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |       CASE WHEN user_id % 8 = 3 THEN value * 2 ELSE value END AS value,
        |       user_id % 8 AS pid
        |FROM events ORDER BY event_id""".stripMargin,

    // seed = latest-per-user of the %3==0 slice; merge of the latest-per-
    // user remainder under "newer wins" lands the overall latest per user
    "q_acid_sql_merge" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
        |       user_id % 8 AS pid
        |FROM (SELECT event_id, user_id, ts, event_type, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // the manifest-served constant row must equal the from-scratch agg
    "q_acid_sql_agg" ->
      """SELECT min(user_id) AS min_user, max(user_id) AS max_user,
        |       count(*) AS n_rows FROM events""".stripMargin,

    // the renamed/dropped/re-added table replays from the base events:
    // amount = the renamed value column; event_type = NULL for rows that
    // predate the drop + re-add, the upper-cased value afterwards
    "q_acid_rename" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |       value AS amount,
        |       CASE WHEN event_id % 3 = 2 THEN upper(event_type) END
        |         AS event_type
        |FROM events ORDER BY event_id""".stripMargin,

    // the tw:-window-served timestamp extrema must equal the real agg
    "q_acid_sql_ts_agg" ->
      """SELECT CAST(min(ts) AS TIMESTAMP) AS ts_lo,
        |       CAST(max(ts) AS TIMESTAMP) AS ts_hi,
        |       count(*) AS n_rows FROM events""".stripMargin,

    // SQL time travel = the same per-version content as the API path
    "q_acid_sql" ->
      """SELECT CAST(v AS BIGINT) AS version, count(*) AS n_rows,
        |       CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
        |FROM events, unnest([1, 2, 3]) AS u(v)
        |WHERE event_id % 3 < v
        |GROUP BY v ORDER BY version""".stripMargin,

    // bounded CDC deltas from startingVersion=2: @2 = the 24-user band's
    // old rows as deletes + bumped rows as inserts (the scoped rewrite's
    // carried neighbors cancel in the netting); @3 = the 12-user band's
    // rows as deletes (DV commit nets to the masked rows)
    "q_acid_stream_feed" ->
      """WITH v1 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |upd AS (
        |  SELECT event_id + 10000000 AS event_id, user_id, ts, event_type,
        |         value + 1000.0 AS value
        |  FROM v1 WHERE user_id < 24)
        |SELECT * FROM (
        |  SELECT v1.*, 'delete' AS _change, CAST(2 AS BIGINT) AS _commit_version
        |  FROM v1 WHERE user_id < 24
        |  UNION ALL SELECT upd.*, 'insert', CAST(2 AS BIGINT) FROM upd
        |  UNION ALL SELECT v1.*, 'delete', CAST(3 AS BIGINT)
        |  FROM v1 WHERE user_id >= 24 AND user_id < 36)
        |ORDER BY _commit_version, _change, user_id""".stripMargin,

    // the keyed streaming CDC: @1 = v1 (latest of the %3==0 slice) as
    // inserts; @2 = the v1->v2 diff classified per user (update pairs
    // for users on both sides)
    "q_acid_stream_cdc" ->
      """WITH v1 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events WHERE event_id % 3 = 0) WHERE rn = 1),
        |v2 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |ins AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1),
        |del AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2),
        |paired AS (SELECT user_id FROM ins INTERSECT SELECT user_id FROM del)
        |SELECT * FROM (
        |  SELECT v1.*, 'insert' AS _change,
        |         CAST(1 AS BIGINT) AS _commit_version FROM v1
        |  UNION ALL
        |  SELECT ins.*, CASE WHEN user_id IN (SELECT user_id FROM paired)
        |    THEN 'update_postimage' ELSE 'insert' END, CAST(2 AS BIGINT) FROM ins
        |  UNION ALL
        |  SELECT del.*, CASE WHEN user_id IN (SELECT user_id FROM paired)
        |    THEN 'update_preimage' ELSE 'delete' END, CAST(2 AS BIGINT) FROM del)
        |ORDER BY _commit_version, user_id, _change""".stripMargin,

    // the served keyed CDC deltas from startingVersion=2: @2 = the
    // 8-user band's update pairs (DV update), @3 = the 4-user band's
    // rows as deletes (DV delete) — content identical to what the
    // netting compute would emit, now read from persisted change files
    "q_acid_stream_cdc_served" ->
      """WITH seed AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1)
        |SELECT * FROM (
        |  SELECT seed.*, 'update_preimage' AS _change,
        |         CAST(2 AS BIGINT) AS _commit_version
        |  FROM seed WHERE user_id < 8
        |  UNION ALL
        |  SELECT event_id, user_id, ts, event_type, value + 1000.0,
        |         'update_postimage', CAST(2 AS BIGINT)
        |  FROM seed WHERE user_id < 8
        |  UNION ALL
        |  SELECT seed.*, 'delete', CAST(3 AS BIGINT)
        |  FROM seed WHERE user_id >= 8 AND user_id < 12)
        |ORDER BY _commit_version, user_id, _change""".stripMargin,

    // the streamed keyed feed applied to the mirror must land exactly on
    // the source's latest state: latest event per user
    "q_acid_stream_cdc_mirror" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM (SELECT event_id, user_id, ts, event_type, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // the pruned new-key range read replayed as a plain WHERE
    "q_acid_recluster" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE event_id BETWEEN 100 AND 4999
        |ORDER BY event_id""".stripMargin,

    // mirror = latest event per user (the per-slice merges compose to
    // the global latest); raw_rows = the full event count — both only
    // hold if every atomic INSERT+MERGE SQL txn landed whole
    "q_acid_replace_where" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE user_id > 30
        |UNION ALL
        |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |       'rescored' AS event_type, value * 2 AS value
        |FROM events WHERE user_id <= 30
        |ORDER BY event_id""".stripMargin,

    "q_acid_sql_replace_where" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE user_id > 30
        |UNION ALL
        |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |       'rescored' AS event_type, value * 2 AS value
        |FROM events WHERE user_id <= 30
        |ORDER BY event_id""".stripMargin,

    "q_acid_sql_atomic_merge" ->
      """SELECT m.event_id, m.user_id, CAST(m.ts AS TIMESTAMP) AS ts,
        |       m.event_type, m.value, m.user_id % 8 AS pid, t.raw_rows
        |FROM (SELECT event_id, user_id, ts, event_type, value
        |      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                ORDER BY ts DESC, event_id DESC) AS rn
        |            FROM events)
        |      WHERE rn = 1) m
        |CROSS JOIN (SELECT count(*) AS raw_rows FROM events) t
        |ORDER BY m.user_id""".stripMargin,

    // even half decimal(10,2), odd half decimal(16,2)+offset — both
    // rendered at scale 2; the engines must agree on the string form
    "q_acid_widen_decimal" ->
      """SELECT event_id, user_id,
        |       CAST(CASE WHEN event_id % 2 = 0
        |                 THEN CAST(value AS DECIMAL(10,2))
        |                 ELSE CAST(CAST(value AS DECIMAL(16,2))
        |                      + CAST('9999999999.00' AS DECIMAL(16,2))
        |                      AS DECIMAL(16,2)) END AS STRING) AS amount
        |FROM events ORDER BY event_id""".stripMargin,

    // v1 = latest-per-user of the %3==0 slice; v2 = latest per user over
    // all events; diff rows classified update-pair vs insert by whether
    // the user appears on both sides of the multiset diff
    "q_acid_cdf" ->
      """WITH v1 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events WHERE event_id % 3 = 0) WHERE rn = 1),
        |v2 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |ins AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1),
        |del AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2),
        |paired AS (SELECT user_id FROM ins INTERSECT SELECT user_id FROM del)
        |SELECT * FROM (
        |  SELECT ins.*, CASE WHEN user_id IN (SELECT user_id FROM paired)
        |    THEN 'update_postimage' ELSE 'insert' END AS _change FROM ins
        |  UNION ALL
        |  SELECT del.*, CASE WHEN user_id IN (SELECT user_id FROM paired)
        |    THEN 'update_preimage' ELSE 'delete' END AS _change FROM del)
        |ORDER BY user_id, _change""".stripMargin,

    // per-commit attribution replayed: v1 = every latest-per-user row as
    // an insert; v2 = the merge's net (the q_acid_cdf_merge rows)
    "q_acid_cdc_by_version" ->
      """WITH latest AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |changed AS (SELECT * FROM latest WHERE user_id < 16)
        |SELECT * FROM (
        |  SELECT event_id, user_id, ts, event_type, value,
        |         'insert' AS _change, CAST(1 AS BIGINT) AS _commit_version
        |  FROM latest
        |  UNION ALL
        |  SELECT event_id + 10000000 AS event_id, user_id, ts, event_type,
        |         value + 1000.0 AS value, 'insert' AS _change,
        |         CAST(2 AS BIGINT) AS _commit_version FROM changed
        |  UNION ALL
        |  SELECT event_id, user_id + 1000000 AS user_id, ts, event_type,
        |         value, 'insert' AS _change,
        |         CAST(2 AS BIGINT) AS _commit_version FROM latest WHERE user_id < 4
        |  UNION ALL
        |  SELECT event_id, user_id, ts, event_type, value,
        |         'delete' AS _change, CAST(2 AS BIGINT) AS _commit_version
        |  FROM changed)
        |ORDER BY _commit_version, user_id, _change, event_id""".stripMargin,

    // the wall-clock-selected window resolves to exactly (0, 2]: same
    // replay as q_acid_cdc_by_version
    "q_acid_cdc_by_timestamp" ->
      """WITH latest AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |changed AS (SELECT * FROM latest WHERE user_id < 16)
        |SELECT * FROM (
        |  SELECT event_id, user_id, ts, event_type, value,
        |         'insert' AS _change, CAST(1 AS BIGINT) AS _commit_version
        |  FROM latest
        |  UNION ALL
        |  SELECT event_id + 10000000 AS event_id, user_id, ts, event_type,
        |         value + 1000.0 AS value, 'insert' AS _change,
        |         CAST(2 AS BIGINT) AS _commit_version FROM changed
        |  UNION ALL
        |  SELECT event_id, user_id + 1000000 AS user_id, ts, event_type,
        |         value, 'insert' AS _change,
        |         CAST(2 AS BIGINT) AS _commit_version FROM latest WHERE user_id < 4
        |  UNION ALL
        |  SELECT event_id, user_id, ts, event_type, value,
        |         'delete' AS _change, CAST(2 AS BIGINT) AS _commit_version
        |  FROM changed)
        |ORDER BY _commit_version, user_id, _change, event_id""".stripMargin,

    // the streaming timestamp face: exactly v2's net diff (the merge
    // commit), nothing earlier — the v2-only slice of the
    // q_acid_cdc_by_timestamp window
    "q_acid_stream_from_ts" ->
      """WITH latest AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |changed AS (SELECT * FROM latest WHERE user_id < 16)
        |SELECT * FROM (
        |  SELECT event_id + 10000000 AS event_id, user_id, ts, event_type,
        |         value + 1000.0 AS value, 'insert' AS _change,
        |         CAST(2 AS BIGINT) AS _commit_version FROM changed
        |  UNION ALL
        |  SELECT event_id, user_id + 1000000 AS user_id, ts, event_type,
        |         value, 'insert' AS _change,
        |         CAST(2 AS BIGINT) AS _commit_version FROM latest WHERE user_id < 4
        |  UNION ALL
        |  SELECT event_id, user_id, ts, event_type, value,
        |         'delete' AS _change, CAST(2 AS BIGINT) AS _commit_version
        |  FROM changed)
        |ORDER BY _commit_version, user_id, _change, event_id""".stripMargin,

    // the aggregate mirror replayed as a full recompute over the final
    // latest-per-user state
    "q_acid_cdc_agg" ->
      """WITH latest AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1)
        |SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM latest GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the SQL-maintained mirror replays to the same recompute
    "q_acid_sql_cdc_agg" ->
      """WITH latest AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1)
        |SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM latest GROUP BY event_type ORDER BY event_type""".stripMargin,

    // bisection companions: SAME recompute oracle as q_acid_cdc_agg —
    // the three gate rows pin three layers of the same identity
    "q_acid_cdc_agg_src" ->
      """WITH latest AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1)
        |SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM latest GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the discriminator probe, retired to the DOUBLE convention (r17
    // directive #2) now that its DECIMAL-hashing answer is on record
    "q_acid_decimal_probe" ->
      """WITH latest AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1)
        |SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_d
        |FROM latest GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_acid_cdc_agg_api" ->
      """WITH latest AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1)
        |SELECT event_type, count(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM latest GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the TVF's un-aggregated rows: identical net diff to
    // q_acid_change_feed (explicit column list to pin order/names)
    "q_acid_tvf_rows" ->
      """WITH v1 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM events WHERE event_id % 3 = 0),
        |v3 AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events)
        |  WHERE rn = 1),
        |ins AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1),
        |del AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3)
        |SELECT event_id, user_id, ts, event_type, value, _change FROM (
        |  SELECT *, 'insert' AS _change FROM ins
        |  UNION ALL
        |  SELECT *, 'delete' AS _change FROM del)
        |ORDER BY _change, user_id, event_id""".stripMargin,

    // the evolving merge replayed: latest-per-user rows gain grade for
    // the <12 band, key-shifted <3 inserts carry 'new', everyone else
    // reads the evolved column as NULL
    "q_acid_merge_evolve" ->
      """WITH latest AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1)
        |SELECT * FROM (
        |  SELECT event_id, user_id, ts, event_type, value,
        |         CASE WHEN user_id < 12 THEN 'g' || CAST(user_id % 3 AS VARCHAR)
        |              END AS grade
        |  FROM latest
        |  UNION ALL
        |  SELECT event_id, user_id + 1000000 AS user_id, ts, event_type, value,
        |         'new' AS grade
        |  FROM latest WHERE user_id < 3)
        |ORDER BY user_id, event_id""".stripMargin,

    // content after the three slices land and the %101 band DV-deletes;
    // the engine side reads it through the sidecar checkpoint alone
    "q_acid_sidecar_checkpoint" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE event_id % 101 <> 0 ORDER BY event_id""".stripMargin,

    // the merge's net change replayed: the <16 band's latest rows leave
    // (deletes) and re-enter bumped (inserts, event_id+1e7 / value+1000);
    // the <4 band re-enters key-shifted as pure inserts
    "q_acid_cdf_merge" ->
      """WITH latest AS (
        |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |  FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |                                     ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events) WHERE rn = 1),
        |changed AS (SELECT * FROM latest WHERE user_id < 16)
        |SELECT * FROM (
        |  SELECT event_id + 10000000 AS event_id, user_id, ts, event_type,
        |         value + 1000.0 AS value, 'insert' AS _change FROM changed
        |  UNION ALL
        |  SELECT event_id, user_id + 1000000 AS user_id, ts, event_type,
        |         value, 'insert' AS _change FROM latest WHERE user_id < 4
        |  UNION ALL
        |  SELECT event_id, user_id, ts, event_type, value,
        |         'delete' AS _change FROM changed)
        |ORDER BY user_id, _change, event_id""".stripMargin,

    // the compound predicate replayed as a plain WHERE
    "q_acid_where" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events
        |WHERE user_id BETWEEN 20 AND 60 AND event_id BETWEEN 1000 AND 4999
        |ORDER BY event_id""".stripMargin,

    // post-restore content = the first two appended slices
    "q_acid_restore" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE event_id % 3 <= 1 ORDER BY event_id""".stripMargin,

    // union of the two pruned range reads (a row in both windows appears
    // twice, exactly like the engine's union)
    "q_acid_zorder" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE user_id BETWEEN 20 AND 60
        |UNION ALL
        |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE event_id BETWEEN 1000 AND 1999
        |ORDER BY event_id, user_id""".stripMargin,

    // the Hilbert-laid table must replay identically to the Morton one
    "q_acid_hilbert" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE user_id BETWEEN 20 AND 60
        |UNION ALL
        |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE event_id BETWEEN 1000 AND 1999
        |ORDER BY event_id, user_id""".stripMargin,

    "q_acid_zorder_inc" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE user_id BETWEEN 20 AND 60
        |ORDER BY event_id""".stripMargin,

    // the stats table's summed per-batch counts must equal a from-scratch
    // per-type count — only true if every (raw, stats) pair committed
    // atomically
    // every user<8 event pairs into a pre/post image (ids pair 1:1, so
    // the classified feed is exactly the band's rows twice)
    "q_acid_row_tracking" ->
      """SELECT event_id, user_id, value, _change FROM (
        |  SELECT event_id, user_id, value, 'update_preimage' AS _change
        |  FROM events WHERE user_id < 8
        |  UNION ALL
        |  SELECT event_id, user_id, value + 1000.0, 'update_postimage'
        |  FROM events WHERE user_id < 8)
        |ORDER BY event_id, _change""".stripMargin,

    // every ingested row keeps a distinct id (n_ids == n_rows) and the
    // user<8 band pairs 1:1 into pre/post images
    "q_acid_row_tracking_part" ->
      """SELECT f._change, f.n, u.n_rows, u.n_ids FROM (
        |  SELECT 'update_preimage' AS _change, count(*) AS n
        |  FROM events WHERE user_id < 8
        |  UNION ALL
        |  SELECT 'update_postimage', count(*)
        |  FROM events WHERE user_id < 8) f
        |CROSS JOIN (SELECT count(*) AS n_rows, count(*) AS n_ids
        |            FROM events) u
        |ORDER BY f._change""".stripMargin,

    // every event with event_id%4 <= 2, exactly once
    "q_acid_stream_dedup_sink" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM events WHERE event_id % 4 <= 2
        |ORDER BY event_id""".stripMargin,

    // the pinned pair holds slices %3 in {0,1}; raw recount == stats sum
    "q_acid_txn_read" ->
      """SELECT event_type,
        |       count(*) AS n_raw,
        |       count(*) AS n_stats
        |FROM events WHERE event_id % 3 <= 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the TVF-pinned SQL read serves the identical recount identity
    "q_acid_sql_txn_read" ->
      """SELECT event_type,
        |       count(*) AS n_raw,
        |       count(*) AS n_stats
        |FROM events WHERE event_id % 3 <= 1
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_acid_multi_table" ->
      """SELECT e.event_id, e.user_id, e.event_type, t.type_rows
        |FROM events e
        |JOIN (SELECT event_type, count(*) AS type_rows
        |      FROM events GROUP BY event_type) t USING (event_type)
        |ORDER BY e.event_id""".stripMargin,

    // mirror = the never-deleted user bands; raw_rows = the full count —
    // both only hold if every append+delete pair landed atomically
    "q_acid_multi_table_mixed" ->
      """SELECT m.event_id, m.user_id, m.event_type, t.raw_rows
        |FROM events m
        |CROSS JOIN (SELECT count(*) AS raw_rows FROM events) t
        |WHERE m.user_id % 10 NOT IN (0, 1, 2)
        |ORDER BY m.event_id""".stripMargin,

    // doubling a double is exponent arithmetic — bit-exact cross-engine
    "q_acid_convert" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
        |       CASE WHEN event_id % 97 = 0 THEN value * 2 ELSE value END AS value
        |FROM events ORDER BY event_id""".stripMargin,

    // old half NULL, new half tagged — the evolved-snapshot projection
    "q_acid_evolution" ->
      """SELECT event_id, user_id, event_type,
        |       CASE WHEN event_id % 2 = 1 THEN 'v:' || event_type END AS vtag
        |FROM events ORDER BY event_id""".stripMargin,

    // mirror@v1 + feed(1,3) = source@v3 = latest event per user
    "q_acid_apply_changes" ->
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        |FROM (SELECT event_id, user_id, ts, event_type, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin
  )
}
