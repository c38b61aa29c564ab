package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Plain `spark.read.parquet` scans: Catalyst pushes filters and prunes
  * columns into the parquet reader, so callers should express projection /
  * predicates declaratively and never pre-materialize.
  */
object Tables {
  import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
  import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

  /** The driver testdata stores timestamps as Parquet TIMESTAMP(NANOS),
    * which Spark's vectorized reader rejects outright. We read them as
    * nanosecond longs (legacy.parquet.nanosAsLong) and rebuild proper
    * TimestampType columns (µs). Source values are µs-resolution, so the
    * nanos->micros truncation is lossless and DuckDB-comparable. */
  private val nanosTimestampCols: Map[String, Seq[String]] = Map(
    "events"   -> Seq("ts"),
    "orders"   -> Seq("o_orderdate"),
    "lineitem" -> Seq("l_shipdate"))

  /** Each path's footer schema, inferred once per JVM: inference runs a
    * Spark job, and gates read their tables every time they are built.
    * The files under a path do not change while a JVM reads them. */
  private val footerSchemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Session-level (not static) confs: set lazily so the driver's own
    // SparkSession works too, whatever configs it was built with. UTC is
    // part of the oracle contract (BASELINE pins both engines to UTC) —
    // a non-UTC session would shift every date-extraction result. One of
    // the few writes graft makes to a session it is handed; the others are
    // TrackStateOp.eventsStream (the same two confs), GraftDvScanRewrite's
    // graft-scan rules and TopKPerKey.apply's strategy. On a GraftSession
    // both values are already set.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val path = s"$dir/$name.parquet"
    val raw = spark.read
      .schema(footerSchemas.computeIfAbsent(path, p => spark.read.parquet(p).schema))
      .parquet(path)
    val deNanoed = nanosTimestampCols.getOrElse(name, Nil)
      .filter(c => raw.schema.fieldNames.contains(c) && raw.schema(c).dataType == LongType)
      .foldLeft(raw)((df, c) => df.withColumn(c, timestamp_micros(expr(s"`$c` div 1000"))))
    // Newer driver testdata writes parquet TIMESTAMP(MICROS, isAdjustedToUTC
    // =false), which Spark 4 infers as TIMESTAMP_NTZ. The stored wall times
    // ARE the UTC instants (same values the nanos encoding carried), so
    // normalize every NTZ column to TimestampType: under the pinned UTC
    // session the cast reinterprets wall time as the identical instant, and
    // every time function (unix_micros, window, watermarks) works unchanged.
    // Recursive: NTZ leaves nested in structs/arrays/maps normalize through
    // one composite cast (struct casts apply field-wise). df(name) resolves
    // the field literally (col() would parse dots/backticks as a path).
    deNanoed.schema.fields
      .filter(f => deNtz(f.dataType) != f.dataType)
      .foldLeft(deNanoed)((df, f) =>
        df.withColumn(f.name, df(f.name).cast(deNtz(f.dataType))))
  }

  /** The field's type with every TIMESTAMP_NTZ leaf (top-level or nested
    * in struct/array/map) replaced by TimestampType. */
  private[graft] def deNtz(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    dt match {
      case TimestampNTZType => TimestampType
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = deNtz(f.dataType))))
      case a: ArrayType => a.copy(elementType = deNtz(a.elementType))
      case m: MapType =>
        m.copy(keyType = deNtz(m.keyType), valueType = deNtz(m.valueType))
      case other => other
    }
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = table(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
