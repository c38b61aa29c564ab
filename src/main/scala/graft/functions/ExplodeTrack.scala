package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.Generator
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, StructType}

/** Custom table-generating expression (SURVEY.md §7 "one generator"):
  * flattens a track (array<struct<...>>) into one row per buffered event —
  * the inverse of the bounded-track collect (K5). Functionally `inline()`,
  * implemented natively to cover the Generator extension surface; planned
  * through `Generate`, so it distributes like any built-in generator.
  */
case class ExplodeTrack(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(_: StructType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"explode_track needs array<struct<...>>, got ${other.catalogString}")
    }

  override def elementSchema: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) Iterator.empty
    else {
      val n = elementSchema.length
      (0 until arr.numElements()).iterator.map { i =>
        // null element -> all-null row (matching built-in inline();
        // a raw null here would NPE inside GenerateExec's projection)
        if (arr.isNullAt(i)) new GenericInternalRow(n)
        else arr.getStruct(i, n).copy()
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): ExplodeTrack =
    copy(child = newChild)
}
