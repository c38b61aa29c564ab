package graft.acid

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Sink, Source, Offset => OffsetV1}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** `spark.readStream.format("graft-table")` — the ACID table AS a
  * streaming source: each micro-batch is the table's row-level change
  * feed between two committed versions, so a downstream keeps a mirror
  * (or any incremental view) in sync with `readStream` + `foreachBatch`
  * instead of a hand-rolled poll loop — the Delta/Iceberg "table as
  * stream" pattern, and the multi-consumer snapshot idea done
  * incrementally (reference analogue: every consumer re-querying the
  * full snapshot view, StatefulStreamingWithMultipleStates.scala:96-118).
  *
  * Offset = committed table VERSION (a long). The engine's checkpoint
  * offset log persists each batch's [fromV, toV]; versions and their
  * manifests are immutable, so any batch replays identically after a
  * crash — exactly-once with zero source-side bookkeeping.
  *
  * Batch content = the FILE-level diff of [fromV, toV]: rows of files
  * ADDED between the versions tagged `insert`, rows of files REMOVED
  * tagged `delete`, plus `_commit_version = toV`. A row a rewrite merely
  * carried appears as a self-canceling delete+insert pair, so the
  * multiset apply identity holds for ANY batch boundary — with the
  * source at fromV content U+R and the batch (inserts A, deletes R),
  * `mirror ∖ deletes + inserts = U+A` = exactly toV's content — which is
  * what makes the one-shot mirror loop `foreachBatch { applyChanges
  * (batch) }` correct. (The batch `changeFeed` API nets those pairs out
  * via EXCEPT ALL; a streaming plan cannot — Spark rejects blind
  * aggregations on streaming relations — and the file diff needs none.)
  * Per-commit granularity: set `maxVersionsPerBatch=1` and
  * `_commit_version` tags each commit's own delta. Each batch reads only
  * the diff's added/removed files — O(delta) I/O, never O(table).
  *
  * Options: `path` (table root, required); `startingVersion` = `earliest`
  * (default — first batch replays the table from its beginning; on a
  * vacuumed table the earliest retained snapshot is the initial load) |
  * `latest` (changes after stream start only) | an explicit version N
  * (changes OF version N and later); `maxVersionsPerBatch` caps how many
  * commits one batch spans (admission control for post-downtime catch-up).
  *
  * Why the V1 `Source` API and not a DSv2 `MicroBatchStream` (the shape
  * `graft.sources.BusSource` uses): `getBatch` returns a DataFrame, so
  * the batch IS Spark's native whole-stage-codegen parquet scan with
  * column pruning and filter pushdown intact. A DSv2 row-level
  * `PartitionReader` would re-implement parquet decoding row by row and
  * forfeit all of that. This is the same trade the production lakehouse
  * sources make (Delta's streaming source is a V1 `Source` for exactly
  * this reason); the admission-control/AvailableNow mixins below are the
  * ones Spark's own `FileStreamSource` pairs with V1.
  */
class GraftTableSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.connector.catalog.TableProvider {
  override def shortName(): String = "graft-table"

  /** BATCH path reads — `spark.read.format("graft-table").load(root)`
    * (+ `option("versionAsOf", n)` / `option("timestampAsOf", ts)` time
    * travel), the Delta-style direct-path surface for a table that is
    * not registered in any catalog. Returns the SAME DSv2 face the
    * catalog serves ([[GraftTableV2]]), so manifest file skipping, DV
    * masking, plan-time statistics and runtime file pruning all apply
    * identically. Batch writes to an EXISTING table work through the
    * same face (`df.write.format("graft-table").mode("append")`);
    * streaming read/write keep their V1 paths — this Table advertises
    * no streaming capability, so the engine falls back to the
    * StreamSourceProvider/StreamSinkProvider halves above. */
  override def getTable(schema: StructType,
                        partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
                        properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    val opts = new org.apache.spark.sql.util.CaseInsensitiveStringMap(properties)
    val root = Option(opts.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-table needs a 'path' option (the table root)"))
    val spark = org.apache.spark.sql.SparkSession.active
    // a DV-carrying snapshot reads through the planner rewrite — a bare
    // path read may be the session's FIRST graft touch (no catalog, no
    // extension), so install it here too (idempotent AND synchronized:
    // one shared install point, see GraftDvScanRewrite.install)
    GraftDvScanRewrite.install(spark)
    val t = GraftTable.load(spark, root)
    val pinned = (Option(opts.get("versionAsOf")),
                  Option(opts.get("timestampAsOf"))) match {
      case (Some(v), _) =>
        val ver = v.trim.toLong
        require(t.versions.contains(ver),
          s"versionAsOf $ver is not retained at $root (${t.versions})")
        Some(ver)
      case (_, Some(ts)) =>
        // epoch millis, or a SQL timestamp literal — parsed in the
        // SESSION timezone (spark.sql.session.timeZone), matching the
        // Delta timestampAsOf semantics; java.sql.Timestamp.valueOf
        // would silently use the JVM default zone instead
        val ms = ts.trim.toLongOption.getOrElse {
          import org.apache.spark.sql.catalyst.util.DateTimeUtils
          val zone = DateTimeUtils.getZoneId(
            spark.sessionState.conf.sessionLocalTimeZone)
          DateTimeUtils.stringToTimestamp(
            org.apache.spark.unsafe.types.UTF8String.fromString(ts.trim), zone)
            .map(micros => Math.floorDiv(micros, 1000L))
            .getOrElse(throw new IllegalArgumentException(
              s"timestampAsOf: cannot parse '$ts' as a timestamp"))
        }
        val h = t.history().filter(_.commitMs <= ms)
        require(h.nonEmpty, s"no commit at or before $ts in table at $root")
        Some(h.last.version)
      case _ => None
    }
    new GraftTableV2(spark, t, root, pinned,
      declared = Option(schema).filter(_.nonEmpty))
  }

  /** An empty root infers an empty schema instead of throwing so the
    * STREAMING sink's capability probe (which resolves the table before
    * falling back to [[createSink]]) still works on a fresh table. */
  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): StructType = {
    val root = Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft-table needs a 'path' option (the table root)"))
    val t = GraftTable.load(org.apache.spark.sql.SparkSession.active, root)
    t.latestVersion.fold(new StructType())(v => t.snapshot(Some(v)).schema)
  }

  /** BATCH path writes — `df.write.format("graft-table").mode(m)
    * .save(root)`. The [[GraftTableV2]] face advertises V1 writes only,
    * so the engine's save routes here: every SaveMode maps onto the
    * commit log (Append → append commit, Overwrite → atomic overwrite,
    * ErrorIfExists/Ignore gate on the log's existence), and a FRESH
    * root takes its physical config (`statsCol` / `partitionCol` /
    * `bloomCol` / `indexCols`) from write options — the same contract
    * as the streaming sink. */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    def opt(k: String): Option[String] = parameters.collectFirst {
      case (pk, v) if pk.equalsIgnoreCase(k) => v }
    val root = opt("path").getOrElse(throw new IllegalArgumentException(
      "graft-table write needs a 'path' option (the table root)"))
    require(opt("versionAsOf").isEmpty && opt("timestampAsOf").isEmpty,
      s"cannot write a time-travel snapshot of the table at $root")
    val loaded = GraftTable.load(sqlContext.sparkSession, root)
    val t =
      if (loaded.latestVersion.nonEmpty) loaded
      else new GraftTable(sqlContext.sparkSession, root,
        statsCol = opt("statsCol"), partitionCol = opt("partitionCol"),
        bloomCol = opt("bloomCol"),
        indexCols = opt("indexCols").toSeq.flatMap(_.split(','))
          .map(_.trim).filter(_.nonEmpty))
    // mergeSchema=true evolves the table schema on append (new columns
    // ADD metadata-only; old files project NULL) — the Delta option
    val merge = opt("mergeSchema").exists(_.trim.equalsIgnoreCase("true"))
    mode match {
      case SaveMode.Append    => t.append(data, mergeSchema = merge)
      case SaveMode.Overwrite => t.overwrite(data)
      case SaveMode.ErrorIfExists =>
        if (t.latestVersion.nonEmpty) throw new IllegalStateException(
          s"graft table at $root already has commits (SaveMode.ErrorIfExists)")
        t.append(data)
      case SaveMode.Ignore =>
        if (t.latestVersion.isEmpty) t.append(data)
    }
    val sqlc = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: SQLContext = sqlc
      override def schema: StructType = data.schema
    }
  }

  /** `writeStream.format("graft-table")` — the ACID table AS a streaming
    * SINK, closing the loop with the source above: a pipeline can
    * `readStream` one table and `writeStream` another with exactly-once
    * end to end and no hand-written foreachBatch.
    *
    * Exactly-once via the commit log itself (Delta's txn action, no side
    * ledger): every batch commit is stamped `txn=<writerId>:<batchId>`
    * (writerId = digest of the checkpoint location) and [[GraftTable
    * .lastTxn]] answers "did this batch already land?" — so the engine's
    * replay of the last un-logged batch after a restart commits nothing
    * twice, and a concurrent API writer is safe because the stamped
    * append goes through the same optimistic-concurrency commit as every
    * other mutation.
    *
    * Output modes: Append → one log append per batch; Complete → one
    * atomic overwrite per batch (the table tracks the full aggregation
    * state — its history is the per-batch state timeline). Table options
    * (`partitionCol`, `statsCol`, `bloomCol`) configure a FRESH table's
    * first commit; an existing table's persisted config wins. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-table sink needs a 'path' option (the table root)"))
    require(outputMode == OutputMode.Append() || outputMode == OutputMode.Complete(),
      s"graft-table sink supports Append and Complete modes, got $outputMode")
    val writerId = java.util.UUID.nameUUIDFromBytes(
      parameters.getOrElse("checkpointLocation", root)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString
    new GraftTableSink(sqlContext.sparkSession, root, parameters,
      overwriteEachBatch = outputMode == OutputMode.Complete(), writerId)
  }

  private def table(sqlContext: SQLContext,
                    parameters: Map[String, String]): GraftTable = {
    val root = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-table needs a 'path' option (the table root)"))
    GraftTable.load(sqlContext.sparkSession, root)
  }

  private def streamSchema(t: GraftTable): StructType = {
    val v = t.latestVersion.getOrElse(throw new IllegalStateException(
      s"graft-table stream over ${t.root}: the table has no commits yet " +
        "(the stream schema comes from the table; commit first)"))
    t.snapshot(Some(v)).schema
      .add(StructField("_change", StringType, nullable = false))
      .add(StructField("_commit_version", LongType, nullable = false))
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), streamSchema(table(sqlContext, parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val t = table(sqlContext, parameters)
    new GraftTableStreamSource(sqlContext, t, streamSchema(t), parameters)
  }
}

/** Offset = committed table version. */
case class TableVersionOffset(v: Long) extends OffsetV1 {
  override def json: String = v.toString
}

/** The streaming sink: one txn-stamped commit per micro-batch (see
  * [[GraftTableSourceProvider.createSink]] for the exactly-once
  * contract). A fresh root's first commit takes its physical config from
  * the sink options; afterwards [[GraftTable.load]] recovers it from the
  * log, so restarts and concurrent readers agree. */
class GraftTableSink(spark: org.apache.spark.sql.SparkSession, root: String,
                     parameters: Map[String, String],
                     overwriteEachBatch: Boolean, writerId: String)
    extends Sink {

  private def table(): GraftTable = {
    val loaded = GraftTable.load(spark, root)
    if (loaded.latestVersion.nonEmpty) loaded
    else new GraftTable(spark, root,
      statsCol = parameters.get("statsCol"),
      partitionCol = parameters.get("partitionCol"),
      bloomCol = parameters.get("bloomCol"),
      indexCols = parameters.get("indexCols").toSeq
        .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty),
      // `rowTracking=true`: the sink table mints stable `_row_id`
      // lineage ids at ingest — composes with dedupKey (appendUnique's
      // survivors mint above the carried watermark), the full
      // crawl-landing story: exactly-once keys AND provenance ids
      rowTracking = parameters.get("rowTracking")
        .exists(_.equalsIgnoreCase("true")))
  }

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val t = table()
    // engine replay of an already-landed batch (restart before the commit
    // log recorded it): the txn stamp says so — skip, don't double-commit
    if (t.lastTxn(writerId).exists(_ >= batchId)) return
    val df = org.apache.spark.sql.GraftPlanBridge.asBatchDataFrame(spark, data)
    // INGEST-TIME EXACT DEDUP (`dedupKey=k`, the crawl-landing shape):
    // each batch lands through [[GraftTable.appendUnique]] — only rows
    // whose key is not already in the table commit, deduplicating
    // within the batch too. Composes with the txn stamp: a replayed
    // batch is a no-op twice over (epoch-skipped AND content-deduped).
    val dedupKey = parameters.get("dedupKey").map(_.trim).filter(_.nonEmpty)
    require(dedupKey.isEmpty || !overwriteEachBatch,
      "graft-table sink: dedupKey requires Append mode (Complete mode " +
        "replaces the table per batch — there is nothing to dedup against)")
    t.commitWithRetry() {
      if (overwriteEachBatch) t.overwrite(df, txn = Some((writerId, batchId)))
      else dedupKey match {
        case Some(k) => t.appendUnique(df, k, txn = Some((writerId, batchId)))
        case None    => t.append(df, txn = Some((writerId, batchId)))
      }
    }
    // AUTO-COMPACTION (the Delta autoCompact pattern): a streaming
    // append-per-batch table accumulates small files without bound —
    // scan cost grows with file count, not data. With
    // `autoCompactFiles=N`, the sink compacts once the active set
    // exceeds N files. The compact commit is LAYOUT-ONLY (op=compact),
    // so downstream table streams skip it as an empty batch; a lost
    // compaction race is simply skipped (the next batch retries).
    parameters.get("autoCompactFiles").map(_.toInt).foreach { maxFiles =>
      val latest = t.latestVersion
      if (latest.exists(v => t.activeFiles(v).size > maxFiles))
        try t.compact(targetFiles = math.max(1, maxFiles / 2))
        catch { case _: ConcurrentCommitException => () }
    }
    // AUTO INCREMENTAL Z-ORDER (the LAYOUT analogue of autoCompact):
    // file counts stay bounded above, but a long append stream still
    // degrades multi-dimensional pruning until someone runs OPTIMIZE
    // ZORDER. With `autoZOrderBy=a,b` the sink re-clusters the untagged
    // tail ([[GraftTable.compactZOrderIncremental]]) whenever its
    // live-row share crosses `autoZOrderTailShare` (default 0.3) —
    // decided O(entries) driver-side from the manifest's z= layout tags,
    // a metadata-only no-op in the steady state, and the pass scans and
    // rewrites O(tail), never the table. Every dimension must be
    // windowed (statsCol / partitionCol / `indexCols` sink option).
    // Prefer this over autoCompactFiles for z-ordered tables: a plain
    // compact strips the layout tags it just paid to establish.
    // `autoZOrderCurve=hilbert` switches the auto-cadence to the
    // Hilbert layout (same cadence logic, the curve's own tag)
    parameters.get("autoZOrderBy").foreach { spec =>
      val cols = spec.split(',').map(_.trim).filter(_.nonEmpty).toSeq
      require(cols.size >= 2,
        s"autoZOrderBy needs at least two columns, got '$spec'")
      val share = parameters.get("autoZOrderTailShare").map(_.toDouble)
        .getOrElse(0.3)
      val target = parameters.get("autoZOrderFiles").map(_.toInt).getOrElse(32)
      val hilbert = parameters.get("autoZOrderCurve")
        .exists(_.trim.equalsIgnoreCase("hilbert"))
      val due =
        if (hilbert) t.hilbertTailShare(cols).exists(_ >= share)
        else t.zorderTailShare(cols).exists(_ >= share)
      if (due)
        try {
          if (hilbert) t.compactHilbertIncremental(cols, target)
          else t.compactZOrderIncremental(cols, target)
        } catch { case _: ConcurrentCommitException => () }
    }
  }

  override def toString: String = s"GraftTableSink[$root]"
}

class GraftTableStreamSource(sqlContext: SQLContext, table: GraftTable,
                             override val schema: StructType,
                             parameters: Map[String, String])
    extends Source with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  /** `readChangeFeed=true` — the CLASSIFIED row-level CDC stream (the
    * Delta readChangeFeed shape) instead of the raw file diff: each
    * batch emits only the NET row changes of its commit range — the
    * self-canceling delete+insert pairs a rewrite merely carries cancel
    * out — tagged `insert`/`delete`, or with `changeFeedKeys=k1,k2` the
    * full 4-way classification (`update_preimage`/`update_postimage`
    * for a key present on both sides). DV commits classify exactly: the
    * same file under old/new mask reads on both sides and only the
    * newly-masked rows survive the subtraction as deletes.
    *
    * The netting (exceptAll) and the keyed classification join are
    * operators Spark's streaming planner rejects on streaming
    * relations, so the batch plan builds as a BATCH computation over the
    * endpoint-pinned file reads and re-enters the stream through
    * [[org.apache.spark.sql.GraftPlanBridge.asStreamingBatch]] — the
    * work stays a distributed job per micro-batch, nothing funnels
    * through the driver. Versions are immutable, so a replayed batch
    * nets to identical content — exactly-once is preserved. Downstream,
    * `foreachBatch { b => mirror.applyChangesKeyed(b.drop(
    * "_commit_version"), key) }` is the complete bounded mirror loop. */
  private val readChangeFeed: Boolean = parameters.exists { case (k, v) =>
    k.equalsIgnoreCase("readChangeFeed") && v.trim.equalsIgnoreCase("true") }
  private val changeFeedKeys: Seq[String] = parameters.collectFirst {
    case (k, v) if k.equalsIgnoreCase("changeFeedKeys") => v }
    .toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
  require(changeFeedKeys.isEmpty || readChangeFeed,
    "graft-table: changeFeedKeys requires readChangeFeed=true")

  /** Version BEFORE the first change this stream delivers (0 = the empty
    * pre-first-commit state). Only consulted on a fresh checkpoint.
    * `startingTimestamp` (epoch millis) delivers every commit AFTER that
    * wall-clock instant — "stream the changes since last night" without
    * knowing version numbers (the Delta startingTimestamp contract). */
  private val baseVersion: Long =
    (parameters.get("startingVersion"), parameters.get("startingTimestamp")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graft-table: startingVersion and startingTimestamp are exclusive")
      case (Some("latest"), _)          => table.latestVersion.getOrElse(0L)
      case (Some("earliest"), _)        => 0L
      case (Some(n), _)                 => n.toLong - 1L // deliver version n onward
      case (None, Some(ts)) =>
        // INCLUSIVE boundary (the Delta contract): a commit at exactly
        // `ts` is delivered, so the already-seen base is the newest
        // version committed strictly BEFORE the timestamp
        table.history().filter(_.commitMs < ts.toLong)
          .lastOption.map(_.version).getOrElse(0L)
      case (None, None) => 0L
    }

  private val maxVersionsPerBatch: Option[Long] =
    parameters.get("maxVersionsPerBatch").map(_.toLong)

  // Trigger.AvailableNow: snapshot the goal once at query start; batches
  // advance toward the SNAPSHOT, never past commits that land after the
  // trigger fired.
  @volatile private var availableNowGoal: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowGoal = Some(table.latestVersion.getOrElse(0L))

  override def initialOffset(): OffsetV2 = TableVersionOffset(baseVersion)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  private def ver(o: OffsetV2): Long = o match {
    case TableVersionOffset(v) => v
    case other                 => other.json.trim.toLong
  }

  /** Admission control: the authoritative `startOffset` comes from the
    * engine every poll (no source-side progress state to go stale across
    * restarts); the end is the latest committed version, capped to
    * `maxVersionsPerBatch` commits ahead. */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    // the engine passes null before the first batch is planned
    val from = Option(startOffset).map(ver).getOrElse(baseVersion)
    val latest = availableNowGoal.getOrElse(table.latestVersion.getOrElse(0L))
    val to = maxVersionsPerBatch.fold(latest)(m => math.min(latest, from + m))
    TableVersionOffset(math.max(from, to))
  }

  /** Legacy poll entry point — unused once SupportsAdmissionControl is
    * implemented, but kept correct (uncapped latest). */
  override def getOffset: Option[OffsetV1] =
    table.latestVersion.map(TableVersionOffset(_))

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    import org.apache.spark.sql.GraftPlanBridge
    val spark = sqlContext.sparkSession
    val fromV = start.map(ver).getOrElse(baseVersion)
    val toV = ver(end)
    def emptyBatch: DataFrame =
      // streaming-tagged empty relation (a batch-tagged frame fails the
      // engine's isStreaming assertion on V1 getBatch results)
      GraftPlanBridge.ofRows(spark,
        LocalRelation(DataTypeUtils.toAttributes(schema), Nil,
          isStreaming = true, stream = Some(this)))
    if (toV <= fromV) emptyBatch
    else {
      val retained = table.versions
      if (fromV > 0 && !retained.contains(fromV))
        throw new IllegalStateException(
          s"stream checkpoint at version $fromV of ${table.root} is beyond " +
            s"the table's retention (earliest retained: " +
            s"${retained.headOption.getOrElse("none")}); recreate the stream")
      // LAYOUT-ONLY commits (compact / zorder / reorg) preserve the
      // table's logical content — the Delta dataChange=false contract:
      // when a batch covers only layout commits, it is EMPTY instead of
      // a full-table self-canceling rewrite pair (reading every byte
      // twice to net zero). Multi-commit ranges mixing layout and data
      // commits diff across the endpoints, where the layout rewrite
      // cancels naturally.
      val rangeOps = ((fromV + 1L) to toV)
        .map(v => table.headerMeta(v).getOrElse("op", "unknown"))
      if (rangeOps.nonEmpty && rangeOps.forall(GraftTable.LayoutOps.contains))
        return emptyBatch
      // pin every batch read to the STREAM's data schema (fixed at query
      // start): commits that evolve the table mid-stream still produce
      // this stream's columns — added columns project NULL from older
      // files and are dropped from newer ones, never a schema tear
      val dataSchema = org.apache.spark.sql.types.StructType(
        schema.fields.filterNot(f =>
          f.name == "_change" || f.name == "_commit_version"))
      if (readChangeFeed) {
        // CLASSIFIED CDC mode: net the two sides, then tag (and with
        // keys, pair updates). Built as a BATCH plan — exceptAll and the
        // classification join are unplannable on streaming relations —
        // and re-entered into the stream via asStreamingBatch.
        // SERVED first (the persisted-change-data fast path, tried
        // BEFORE any endpoint entry-list resolution): when every version
        // in (fromV, toV] recorded its changes at commit time (or is a
        // blind add / layout no-op), the batch reads ONLY the KB-scale
        // change files — no O(file-count) entry diff on the driver, no
        // double read of a 1 GB base file to net a 1-row DV delete, and
        // N mirror consumers stop paying the recompute N times. Falls
        // back to the endpoint netting for any range it cannot serve
        // exactly.
        def emptyDf: DataFrame = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], dataSchema)
        def nettedSides: (DataFrame, DataFrame) = {
          val fromEs: Seq[GraftTable.FileEntry] = table.entries(fromV)
          val toEs: Seq[GraftTable.FileEntry] = table.entries(toV)
          val fromLines = fromEs.map(_.line).toSet
          val toLines = toEs.map(_.line).toSet
          val added = toEs.filterNot(e => fromLines.contains(e.line))
          val removed = fromEs.filterNot(e => toLines.contains(e.line))
          def side(es: Seq[GraftTable.FileEntry], mapV: Long): Option[DataFrame] =
            if (es.isEmpty) None
            else Some(table.readEntriesAs(es, dataSchema,
              Some(table.cmapOf(mapV))))
          (side(added, toV), side(removed, fromV)) match {
            case (None, None)       => (emptyDf, emptyDf)
            case (Some(n), None)    => (n, emptyDf)
            case (None, Some(o))    => (emptyDf, o)
            case (Some(n), Some(o)) => (n.exceptAll(o), o.exceptAll(n))
          }
        }
        val (ins, del) = table.changeFeedServedSides(fromV, toV, dataSchema) match {
          case Some((i, d)) => (i.exceptAll(d), d.exceptAll(i))
          case None         => nettedSides
        }
        val classified =
          if (changeFeedKeys.nonEmpty)
            GraftTable.classifyKeyed(ins, del, changeFeedKeys)
          else ins.withColumn("_change", lit("insert"))
            .unionByName(del.withColumn("_change", lit("delete")))
        val out = classified
          .withColumn("_commit_version", lit(toV))
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        return GraftPlanBridge.asStreamingBatch(spark, out, this)
      }
      // entry identity = the full manifest line, not just the path: a
      // DELETION-VECTOR commit (same file, new dv= tag) surfaces as the
      // file on BOTH sides, each read under ITS mask — the consumer's
      // multiset apply (exceptAll deletes, union inserts) then lands
      // exactly the newly-masked rows as net deletes.
      // APPEND-ONLY ranges (the steady ingest shape) diff from the
      // delta manifests alone — no endpoint entry-list resolution.
      val (added, removed) = table.appendOnlyAdds(fromV, toV) match {
        case Some(adds) => (adds.sortBy(_.path), Nil)
        case None =>
          val fromEs: Seq[GraftTable.FileEntry] = table.entries(fromV)
          val toEs: Seq[GraftTable.FileEntry] = table.entries(toV)
          val fromLines = fromEs.map(_.line).toSet
          val toLines = toEs.map(_.line).toSet
          (toEs.filterNot(e => fromLines.contains(e.line)).sortBy(_.path),
            fromEs.filterNot(e => toLines.contains(e.line)).sortBy(_.path))
      }
      // pin the COLUMN MAPPING to the batch endpoint too (not the
      // table's latest): after a later drop+re-add or second rename
      // commits, a replayed batch (checkpoint recovery) must resolve
      // the stream's pinned names through the mapping AS OF the batch's
      // own versions — added entries exist under toV's mapping, removed
      // entries under fromV's — so batch content depends only on
      // (fromV, toV), never on when the batch is read
      def readSide(es: Seq[GraftTable.FileEntry], mapV: Long): Option[DataFrame] =
        if (es.isEmpty) None
        else Some(table.readEntriesAs(es, dataSchema, Some(table.cmapOf(mapV))))
      val parts =
        readSide(added, toV).map(_.withColumn("_change", lit("insert"))).toSeq ++
          readSide(removed, fromV).map(_.withColumn("_change", lit("delete")))
      if (parts.isEmpty) emptyBatch
      else {
        val out = parts.reduce(_.unionByName(_))
          .withColumn("_commit_version", lit(toV))
          .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        // re-tag the PARQUET scan leaves as THIS stream's batch (the same
        // move Delta's streaming source makes): the plan stays a native
        // whole-stage-codegen parquet scan — scans + union + project,
        // no shuffle — and the engine sees a streaming relation it can
        // attribute to this source. Only the data scans: a DV'd batch
        // also reads its `.dvs` sidecars as a TEXT relation, and tagging
        // that side too would turn the mask's anti-join stream-stream
        // (unsupported for LeftAnti) instead of stream-static.
        val streamed = out.queryExecution.analyzed.transform {
          case lr: LogicalRelation
              if lr.relation.isInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation] &&
                lr.relation.asInstanceOf[
                  org.apache.spark.sql.execution.datasources.HadoopFsRelation]
                  .fileFormat.isInstanceOf[
                    org.apache.spark.sql.execution.datasources
                      .parquet.ParquetFileFormat] =>
            lr.copy(isStreaming = true, stream = Some(this))
        }
        GraftPlanBridge.ofRows(spark, streamed)
      }
    }
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
}
