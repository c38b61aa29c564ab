package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

/** The reference's per-batch "tool" abstraction (SURVEY.md §2.3 G1 /
  * §1b SimpleTool: `transformSchema` + `execute`), Spark-native: a tool
  * is a schema-declaring DataFrame transform. `transformSchema` exists
  * for parity/validation — Catalyst's analyzer already propagates
  * schemas, so `Tool.validate` asserts the declaration matches what the
  * plan actually produces rather than driving execution.
  */
trait Tool {
  def name: String
  def transformSchema(in: StructType): StructType
  def apply(df: DataFrame): DataFrame
}

object Tool {
  /** Chain tools left-to-right (the reference's Projector-then-Buffer
    * pipeline, StreamWithStates.scala:206-243). */
  def pipeline(tools: Tool*): DataFrame => DataFrame =
    df => tools.foldLeft(df)((d, t) => t(d))

  /** Check a tool's declared output schema against Catalyst's. */
  def validate(tool: Tool, df: DataFrame): Boolean =
    tool.transformSchema(df.schema) == tool(df).schema
}

/** G2 as a tool: adds a `mercator: struct<x,y>` column from lon/lat. */
case class ProjectorTool(lonCol: String, latCol: String) extends Tool {
  import org.apache.spark.sql.functions._
  override def name: String = "projector-3857"

  override def transformSchema(in: StructType): StructType =
    in.add("mercator", graft.functions.WebMercator.outType,
      nullable = in(lonCol).nullable || in(latCol).nullable)

  override def apply(df: DataFrame): DataFrame = {
    graft.functions.register(df.sparkSession)
    df.withColumn("mercator", expr(s"web_mercator($lonCol, $latCol)"))
  }
}

/** G3 as a tool: adds a buffer polygon column around lon/lat. */
case class BufferTool(lonCol: String, latCol: String, radiusMeters: Double,
                      vertices: Int = 16) extends Tool {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._
  override def name: String = s"buffer-$radiusMeters"

  override def transformSchema(in: StructType): StructType =
    // the native GeodesicNgon expression produces non-null vertices
    // (containsNull = false) and is null only if an input column is
    in.add("buffer", ArrayType(StructType(Seq(
      StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false))), containsNull = false),
      nullable = in(lonCol).nullable || in(latCol).nullable)

  override def apply(df: DataFrame): DataFrame = {
    graft.functions.register(df.sparkSession)
    df.withColumn("buffer", graft.functions.GeodesicBuffer.buffer(
      col(lonCol), col(latCol), lit(radiusMeters), lit(vertices)))
  }
}
