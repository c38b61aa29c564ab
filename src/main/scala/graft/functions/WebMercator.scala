package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** WGS84 lon/lat -> WebMercator (EPSG:3857) meters, as a native Catalyst
  * expression with codegen (SURVEY.md §2.3 G2; the reference reaches this
  * via a proprietary per-batch "Projector" tool at
  * StreamWithStates.scala:209-220 — here it is one scalar expression
  * inside whole-stage codegen, streaming- and batch-safe).
  *
  * Public spherical-Mercator formulas:
  *   x = R * lon * pi/180
  *   y = R * ln(tan(pi/4 + lat * pi/360)),  R = 6378137 m
  */
case class WebMercator(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = WebMercator.outType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == DoubleType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"web_mercator needs (double, double), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override protected def nullSafeEval(lon: Any, lat: Any): Any = {
    val x = WebMercator.R * lon.asInstanceOf[Double] * math.Pi / 180.0
    val y = WebMercator.R * math.log(math.tan(math.Pi / 4.0 +
      lat.asInstanceOf[Double] * math.Pi / 360.0))
    new GenericInternalRow(Array[Any](x, y))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (lon, lat) => {
      val x = ctx.freshName("mx")
      val y = ctx.freshName("my")
      s"""
         |double $x = ${WebMercator.R}D * $lon * Math.PI / 180.0;
         |double $y = ${WebMercator.R}D * Math.log(Math.tan(Math.PI / 4.0 + $lat * Math.PI / 360.0));
         |${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[]{java.lang.Double.valueOf($x), java.lang.Double.valueOf($y)});
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): WebMercator =
    copy(left = l, right = r)
}

object WebMercator {
  val R = 6378137.0
  val outType: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))
}
