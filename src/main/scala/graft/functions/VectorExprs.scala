package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native vector/set kernels with codegen. Spark's higher-order functions
  * (aggregate / zip_with / array_intersect) are CodegenFallback —
  * interpreted, boxing per element — which made the quadratic similarity
  * queries HOF-bound (~3x slower than necessary at sf0.1). These
  * expressions run the same arithmetic as tight primitive loops over
  * ArrayData, inside whole-stage codegen.
  *
  * DotProduct keeps the exact sequential fold order (sum += a[i]*b[i]) so
  * cosine values stay bit-identical to DuckDB's list_cosine_similarity
  * over DOUBLE[].
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_product needs (array<double>, array<double>), got $other")
    }

  override def nullable: Boolean = true // also null on dimension mismatch

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    // dimension mismatch -> null, never a silently-truncated prefix dot
    // (a plausible-but-wrong similarity would pass thresholds unnoticed)
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) { $s += $a.getDouble($i) * $b.getDouble($i); }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Jaccard similarity of two SORTED distinct long arrays via a merge walk:
  * |intersection| / (|a| + |b| - |intersection|). Same int/int double
  * division as the DuckDB len(list_intersect)/len(union) oracle. */
case class SortedJaccard(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"sorted_jaccard needs (array<bigint>, array<bigint>), got $other")
    }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val (nx, ny) = (x.numElements(), y.numElements())
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { inter += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    inter.toDouble / (nx + ny - inter)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val inter = ctx.freshName("inter")
      val xi = ctx.freshName("xi"); val yj = ctx.freshName("yj")
      s"""
         |int $nx = $a.numElements(); int $ny = $b.numElements();
         |int $i = 0; int $j = 0; int $inter = 0;
         |while ($i < $nx && $j < $ny) {
         |  long $xi = $a.getLong($i); long $yj = $b.getLong($j);
         |  if ($xi == $yj) { $inter++; $i++; $j++; }
         |  else if ($xi < $yj) { $i++; } else { $j++; }
         |}
         |${ev.value} = ((double) $inter) / ($nx + $ny - $inter);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SortedJaccard =
    copy(left = l, right = r)
}

object VectorExprs {
  /** Plain-Scala twin of SortedJaccard.nullSafeEval for block-local
    * (flatMapGroups) exact all-pairs — same arithmetic, same bits. */
  def sortedJaccardValue(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }

  def dotProduct(a: Column, b: Column): Column = call_function("dot_product", a, b)
  def sortedJaccard(a: Column, b: Column): Column = call_function("sorted_jaccard", a, b)
}
