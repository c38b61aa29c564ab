package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling (Rabin-Karp) polynomial hash over every k-gram of a string's
  * UTF-8 bytes — the primitive for document fingerprinting / winnowing
  * (SURVEY.md north-star text ops). Native Catalyst expression WITH
  * `doGenCode`, so it participates in whole-stage codegen instead of
  * breaking the pipeline the way a Scala UDF would.
  *
  * h(i) = sum_{j<k} bytes(i+j) * B^(k-1-j), wrapping in 64-bit (mod 2^64):
  * deterministic across JVMs/platforms; rolling update is O(1) per gram.
  */
case class KGramHashes(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, "k must be >= 1")

  private val B = 1000003L
  private val powK1: Long = { // B^(k-1), wrapping
    var p = 1L; var i = 1
    while (i < k) { p *= B; i += 1 }
    p
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val n = bytes.length - k + 1
    if (n <= 0) new GenericArrayData(Array.empty[Long])
    else {
      val out = new Array[Long](n)
      var h = 0L
      var i = 0
      while (i < k) { h = h * B + bytes(i); i += 1 }
      out(0) = h
      i = 1
      while (i < n) {
        h = (h - bytes(i - 1) * powK1) * B + bytes(i + k - 1)
        out(i) = h
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $bytes = $c.getBytes();
         |int $n = $bytes.length - $k + 1;
         |if ($n <= 0) {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(new long[0]);
         |} else {
         |  long[] $out = new long[$n];
         |  long $h = 0L;
         |  for (int $i = 0; $i < $k; $i++) { $h = $h * ${B}L + $bytes[$i]; }
         |  $out[0] = $h;
         |  for (int $i = 1; $i < $n; $i++) {
         |    $h = ($h - $bytes[$i - 1] * ${powK1}L) * ${B}L + $bytes[$i + $k - 1];
         |    $out[$i] = $h;
         |  }
         |  ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): KGramHashes =
    copy(child = newChild)
}
