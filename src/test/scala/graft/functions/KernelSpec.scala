package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** Native kernel correctness: interpreted eval == codegen'd pipeline,
  * and property equivalence with naive set/loop implementations. */
class KernelSpec extends SparkSpec {
  import spark.implicits._

  private def check(prop: Prop): Unit = {
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("SortedJaccard == naive set jaccard (property)") {
    val gen = Gen.listOf(Gen.choose(0L, 40L)).map(_.distinct.sorted.toArray)
    check(Prop.forAll(gen, gen) { (a, b) =>
      val union = a.toSet.union(b.toSet).size
      if (union == 0) true // 0/0 undefined; callers filter empty sets
      else {
        val inter = a.toSet.intersect(b.toSet).size
        VectorExprs.sortedJaccardValue(a, b) == inter.toDouble / union
      }
    })
  }

  test("ShingleHashes kernel == HOF shingles+xxhash64 path (parity + edges)") {
    graft.functions.register(spark)
    import graft.llm.TextOps
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c",               // exactly n words -> 1 shingle
      "a b",                 // < n words -> empty
      "",                    // empty -> empty
      "one two three two three one two three", // repeated shingles dedup
      "double  space here splits empty words", // consecutive spaces
      " leading and trailing spaces ",
      "sevenwordsallthesameword sevenwordsallthesameword sevenwordsallthesameword sevenwordsallthesameword")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val kernel = df.select($"id", TextOps.fastShingleHashes($"text").as("kh"))
      .as[(Long, Array[Long])].collect().toMap
    val hof = df.select($"id",
        array_sort(TextOps.shingleHashes(TextOps.shingles($"text"))).as("kh"))
      .as[(Long, Array[Long])].collect().toMap
    texts.indices.foreach { i =>
      assert(kernel(i.toLong).toSeq == hof(i.toLong).toSeq,
        s"mismatch on '${texts(i)}': ${kernel(i.toLong).toSeq} vs ${hof(i.toLong).toSeq}")
    }
    // interpreted (driver-side eval) must equal the codegen'd result
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val interp = ShingleHashes(Literal(
        UTF8String.fromString(texts.head), org.apache.spark.sql.types.StringType), 3)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray.toSeq
    assert(interp == kernel(0L).toSeq)
  }

  test("ShingleHashes == driver-side split+hash reference (property)") {
    // random texts over a tiny alphabet with frequent spaces: exercises
    // empty words, runs of spaces, leading/trailing spaces, short texts
    val gen = Gen.listOf(Gen.oneOf('a', 'b', ' ', ' ')).map(_.mkString)
    check(Prop.forAll(gen) { text =>
      val words = text.split(" ", -1)
      val expected =
        if (words.length < 3) Seq.empty[Long]
        else (0 to words.length - 3)
          .map(i => words.slice(i, i + 3).mkString(" "))
          .distinct
          .map(sh => org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
            org.apache.spark.unsafe.types.UTF8String.fromString(sh),
            org.apache.spark.sql.types.StringType, 42L))
          .sorted.distinct
      val got = ShingleHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), 3)
        .toLongArray.toSeq
      got == expected
    })
  }

  test("WordHashes == split+fold reference (property)") {
    // 'é' (UTF-8 0xC3 0xA9) exercises the unsigned-byte fold on >=0x80 bytes
    val gen = Gen.listOf(Gen.oneOf('a', 'b', 'c', 'é', ' ', ' ')).map(_.mkString)
    val B = 1000003L
    check(Prop.forAll(gen) { text =>
      val expected = text.split(" ", -1).toSeq
        .map(_.getBytes("UTF-8").foldLeft(0L)((h, b) => h * B + (b & 0xFF)))
      val got = WordHashes.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(text))
        .toLongArray.toSeq
      got == expected
    })
  }

  test("WordHashes: known polynomial values, order + multiplicity, empty words") {
    graft.functions.register(spark)
    val B = 1000003L
    def ph(s: String): Long = s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * B + (b & 0xFF))
    val got = Seq((1L, "ab ab c"), (2L, ""), (3L, "x  y "))
      .toDF("id", "s")
      .select($"id", expr("word_hashes(s)")).as[(Long, Seq[Long])].collect().toMap
    assert(got(1L) == Seq(ph("ab"), ph("ab"), ph("c"))) // duplicates kept, in order
    assert(got(2L) == Seq(0L))                          // empty text -> one empty word
    assert(got(3L) == Seq(ph("x"), 0L, ph("y"), 0L))    // double + trailing space
  }

  test("SpanHashes == sliding-window fold reference (property), rolling update exact") {
    val B = 1000003L
    val gen = for {
      w <- Gen.choose(1, 5)
      xs <- Gen.listOf(Gen.choose(Long.MinValue, Long.MaxValue))
    } yield (w, xs.toArray)
    check(Prop.forAll(gen) { case (w, xs) =>
      val expected =
        if (xs.length < w) Seq.empty[Long]
        else (0 to xs.length - w).map(i =>
          xs.slice(i, i + w).foldLeft(0L)((h, x) => h * B + x))
      val got = SpanHashes(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          xs, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)), w)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray.toSeq
      got == expected
    })
  }

  test("SpanHashes: interpreted == codegen'd pipeline") {
    graft.functions.register(spark)
    val xs = Array(0x123456789ABCDEFL, -42L, 7L, Long.MaxValue, Long.MinValue)
    val viaPipeline = Seq(Tuple1(xs)).toDF("h")
      .select(call_function("span_hashes", $"h", lit(3))).as[Seq[Long]].head()
    val interp = SpanHashes(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        xs, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)), 3)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray.toSeq
    assert(viaPipeline == interp)
  }

  test("DotProduct pipeline == driver-side sequential fold") {
    graft.functions.register(spark)
    val a = Array(1.5, -2.25, 3.125, 0.0625)
    val b = Array(-0.5, 4.75, 2.5, -8.0)
    val got = Seq((a, b)).toDF("a", "b")
      .select(VectorExprs.dotProduct($"a", $"b")).as[Double].head()
    var exp = 0.0
    a.indices.foreach(i => exp += a(i) * b(i))
    assert(got == exp)
  }

  test("SimHash64: interpreted == codegen'd pipeline") {
    graft.functions.register(spark)
    val hs = Array(0x123456789ABCDEFL, -42L, 7L)
    val viaPipeline = Seq(Tuple1(hs)).toDF("h")
      .select(call_function("simhash64", $"h")).as[Long].head()
    val interp = SimHash64(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        hs, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)))
      .eval(null).asInstanceOf[Long]
    assert(viaPipeline == interp)
  }

  test("ZOrder64: known interleavings and quadrant order") {
    assert(ZOrder64.interleave(0L, 0L) == 0L)
    assert(ZOrder64.interleave(1L, 0L) == 1L)   // a -> even bits
    assert(ZOrder64.interleave(0L, 1L) == 2L)   // b -> odd bits
    assert(ZOrder64.interleave(3L, 3L) == 15L)  // 0b1111
    assert(ZOrder64.interleave(0xFFFFFFFFL, 0xFFFFFFFFL) == -1L) // all 64 bits
    // z-curve locality: points in the lower quadrant sort before the upper
    val low = for (x <- 0L until 4L; y <- 0L until 4L) yield ZOrder64.interleave(x, y)
    val high = for (x <- 4L until 8L; y <- 4L until 8L) yield ZOrder64.interleave(x, y)
    assert(low.max < high.min)
  }

  test("MinHashSignature: interpreted == codegen'd, monotone under union") {
    graft.functions.register(spark)
    val xs = Array(10L, 20L, 30L, 40L)
    val viaPipeline = Seq(Tuple1(xs)).toDF("h")
      .select(call_function("minhash_signature", $"h", lit(16)))
      .as[Seq[Long]].head()
    val interp = MinHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        xs, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)), 16)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray.toSeq
    assert(viaPipeline == interp)
    // signature of a superset is elementwise <= (min is monotone)
    val ys = xs ++ Array(50L, 60L)
    val sup = MinHashSignature(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        ys, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType, false)), 16)
      .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray.toSeq
    assert(viaPipeline.zip(sup).forall { case (a, b) => b <= a })
  }
}
