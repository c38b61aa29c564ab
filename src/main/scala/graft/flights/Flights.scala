package graft.flights

import graft.tracks.TrackBuffer
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** The reference's flight-feed pipeline, Spark-native (SURVEY.md §2.2,
  * §2.4): CSV line parsing with the CORRECT 12-hour timestamp format
  * (reference quirk §1.1 — the Simple stack's lenient `MM/dd/yy HH:mm:ss`
  * silently misreads PM times; we keep its "unparseable -> epoch 0,
  * never crash" contract via try_to_timestamp + coalesce), point-struct
  * geometry, semantic schema tags, and the per-flight bounded track.
  */
object Flights {

  /** One parsed flight position (reference SimpleFeature.scala:7-10). */
  case class FlightRec(trackId: String, tsMicros: Long, longitude: Double,
                       latitude: Double, origin: String, destination: String,
                       aircraft: String, altitude: Long)

  case class FlightTrackState(ver: Long, recs: List[FlightRec])
  case class FlightSnap(trackId: String, tsMicros: Long, longitude: Double,
                        latitude: Double, altitude: Long, ver: Long)

  val TsFormat = "M/d/yyyy hh:mm:ss a" // the CORRECT parse (StreamWithStates.scala:174)

  /** P1/P2: one CSV line per row (column `value`) -> typed flight columns
    * with quote stripping, trimming, safe casts; P3/P4: correct 12h parse,
    * unparseable -> epoch 0; P5: geometry = struct(x=lon, y=lat). */
  def parseCsv(lines: DataFrame): DataFrame = {
    // try_element_at everywhere: ANSI element_at throws on out-of-bounds,
    // which a truncated/blank socket line would hit — the tolerate-garbage
    // contract needs the try_ variants end to end.
    // The split is hoisted into its OWN projection: CollapseProject keeps a
    // non-cheap alias referenced 8x rather than inlining it, so the
    // physical plan evaluates regexp_replace+split once per row instead of
    // relying on codegen subexpression elimination over 8 inline copies.
    val split1 = lines.select(
      split(regexp_replace(col("value"), "\"", ""), ",").as("p"))
    def f(i: Int): Column = trim(try_element_at(col("p"), lit(i + 1)))
    split1.select(
      f(0).as("trackId"),
      f(1).as("flightTime"),
      expr("try_cast(trim(try_element_at(p, 3)) AS DOUBLE)").as("longitude"),
      expr("try_cast(trim(try_element_at(p, 4)) AS DOUBLE)").as("latitude"),
      f(4).as("origin"),
      f(5).as("destination"),
      f(6).as("aircraft"),
      expr("try_cast(trim(try_element_at(p, 8)) AS BIGINT)").as("altitude"))
      .withColumn("time", coalesce(
        try_to_timestamp(col("flightTime"), lit(TsFormat)),
        to_timestamp(lit("1970-01-01 00:00:00"))))
      .withColumn("geometry", struct(col("longitude").as("x"), col("latitude").as("y")))
  }

  /** P7: semantic schema tags (the reference's JSON FeatureSchema tags,
    * StreamWithStates.scala:86-165) as StructField metadata. */
  def tagMeta(tag: String): Metadata =
    new MetadataBuilder().putString("tag", tag).build()

  def withFlightTags(df: DataFrame): DataFrame =
    df.withColumn("trackId", col("trackId").as("trackId", tagMeta("TRACK_ID")))
      .withColumn("time", col("time").as("time", tagMeta("START_TIME")))

  /** Resolve the column carrying a semantic tag (FeatureFunctions.scala:9-20). */
  def taggedColumn(df: DataFrame, tag: String): Option[String] =
    FeatureSchema.taggedField(df.schema, tag)

  /** P9: geometry stringification — the reference's SimplePoint.toString
    * "(x, y)" (SimpleGeometry.scala:10), as printed in its README table. */
  def geometryString(geom: Column): Column =
    format_string("(%s, %s)", geom.getField("x"), geom.getField("y"))

  /** P6: null the geometry data but keep the schema (the reference's
    * second stateful stream, StatefulStreamingWithMultipleStates.scala:100-114). */
  def dropGeometryData(df: DataFrame): DataFrame =
    df.withColumn("geometry", lit(null).cast("struct<x:double,y:double>"))

  /** S1: the reference's TCP text source (Defaults.scala:9-10). */
  def socketLines(spark: SparkSession, host: String = "localhost", port: Int = 7777): DataFrame =
    spark.readStream.format("socket")
      .option("host", host).option("port", port).load()

  /** Typed stream of FlightRec from a raw line stream. Rows whose numeric
    * fields failed try_cast are DROPPED here: FlightRec's primitive fields
    * are non-nullable, so letting parse-nulls through would crash the
    * encoder on exactly the malformed lines the parser tolerates. */
  def flightStream(lines: DataFrame): Dataset[FlightRec] = {
    val spark = lines.sparkSession
    import spark.implicits._
    parseCsv(lines)
      .filter($"trackId".isNotNull && $"longitude".isNotNull &&
              $"latitude".isNotNull && $"altitude".isNotNull)
      .select($"trackId", unix_micros($"time").as("tsMicros"), $"longitude",
              $"latitude", $"origin", $"destination", $"aircraft", $"altitude")
      .as[FlightRec]
  }

  /** K1-K6 for flights: per-trackId bounded sorted dedup track. */
  def trackSnapshots(flights: Dataset[FlightRec], cap: Int = TrackBuffer.DefaultCap): Dataset[FlightSnap] = {
    val spark = flights.sparkSession
    import spark.implicits._
    graft.io.LocalFs.install(spark.sparkContext.hadoopConfiguration)
    flights
      .groupByKey(_.trackId)
      .flatMapGroupsWithState[FlightTrackState, FlightSnap](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[FlightRec], state: GroupState[FlightTrackState]) =>
          val prev = state.getOption.getOrElse(FlightTrackState(0L, Nil))
          var buf = prev.recs.toVector
          // full-record tiebreak: shuffle iterator order is nondeterministic,
          // so a ts collision must not decide the survivor by arrival order
          it.toVector.sortBy(r => (r.tsMicros, r.toString)).foreach { r =>
            buf = TrackBuffer.addBy(buf, r, cap)(_.tsMicros)
          }
          val ver = prev.ver + 1
          state.update(FlightTrackState(ver, buf.toList))
          buf.iterator.map(r =>
            FlightSnap(key, r.tsMicros, r.longitude, r.latitude, r.altitude, ver))
      }
  }

  /** S3/S4/Q1: the reference's `showTempView` query interface
    * (StatefulStreamingWithMultipleStates.scala:15-32): every batch,
    * refresh a FULL state snapshot as a named temp view, run SQL over it,
    * print with the reference's banner. The full snapshot is accumulated
    * across batches (the reference gets it from `stateSnapshots()`; with
    * flatMapGroupsWithState we fold update-mode emissions — SURVEY.md §7
    * risk 1).
    *
    * Scale design — NO driver materialization: the running snapshot lives
    * as executor-resident blocks. Each batch, tracks touched by the batch
    * are anti-joined out of the previous snapshot and the fresh buffers
    * unioned in; `localCheckpoint()` (eager) truncates the lineage so the
    * plan stays O(1) deep across arbitrarily many batches and the merge
    * cost is one distributed hash join on trackId per batch. The
    * alternative at extreme state sizes is Spark's state-store reader
    * (`spark.read.format("statestore")`) over the checkpoint.
    */
  def showTempView(snaps: Dataset[FlightSnap], viewName: String,
                   sql: String = null, quiet: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery = {
    // foreachBatch runs under a per-batch CLONED session whose temp-view
    // registry is isolated; register on the captured outer session so the
    // view is visible to callers (the reference registers on its shared
    // SQLContext singleton for the same reason — SQLContextSingleton.scala).
    val spark = snaps.sparkSession
    import spark.implicits._
    var snapshot: DataFrame = spark.emptyDataset[FlightSnap].toDF()
    // handle to the materialized generation: freed DETERMINISTICALLY when
    // the next one lands (waiting for driver GC + ContextCleaner would
    // let full-snapshot generations pile up on executors)
    var prevGen: Option[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]] = None
    snaps.writeStream.outputMode("update").foreachBatch {
      (df: Dataset[FlightSnap], batchId: Long) =>
        val updates = df.toDF()
        // update-mode emissions carry each touched track's FULL buffer,
        // so replace-whole-track-by-key merges exactly
        val merged = snapshot
          .join(updates.select("trackId").distinct(), Seq("trackId"), "left_anti")
          .unionByName(updates)
        val gen = merged.rdd.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        gen.count() // materialize on executors before freeing the parent
        prevGen.foreach(_.unpersist(blocking = false))
        prevGen = Some(gen)
        snapshot = spark.createDataFrame(gen, merged.schema)
        snapshot
          .select($"trackId".as("flightId"), $"tsMicros", $"longitude", $"latitude", $"altitude")
          .createOrReplaceTempView(viewName)
        val q = Option(sql).getOrElse(s"select * from $viewName")
        if (!quiet) {
          println(s"========= $viewName $batchId =========")
          spark.sql(q).show(truncate = false)
        } else {
          // evaluate the per-batch SQL WITHOUT materializing the snapshot
          // on the driver: a noop write runs the full plan distributed
          // (collect() here would pull every track's buffer to the driver
          // each batch — fine at demo scale, a wall at 100 TB)
          spark.sql(q).write.format("noop").mode("overwrite").save()
        }
        ()
    }.start()
  }
}
