package graft.functions

import scala.collection.mutable

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => ScTest}

/** Contracts for the native Misra-Gries TypedImperativeAggregate:
  * the n/(k+1) error bound and heavy-hitter presence guarantee must
  * hold under EVERY partitioning (merge order), and the buffer must
  * survive the serialize/deserialize shuffle path bit-exactly. */
class MisraGriesSpec extends SparkSpec {
  import spark.implicits._

  private def mgFromSpark(tokens: Seq[String], k: Int, parts: Int): Map[String, Long] = {
    graft.functions.register(spark)
    val df = tokens.toDF("tok").repartition(parts)
    df.agg(call_function("mg_topk", $"tok", lit(k)).as("sk"))
      .as[Map[String, Long]].head()
  }

  private def assertBound(tokens: Seq[String], sk: Map[String, Long], k: Int): Unit = {
    val n = tokens.size.toLong
    val exact = tokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // every estimate is a true-count lower-bounded underestimate
    sk.foreach { case (t, est) =>
      val cnt = exact.getOrElse(t, 0L)
      assert(est <= cnt, s"overestimate for '$t': est=$est cnt=$cnt")
      assert(est * (k + 1) + n >= cnt * (k + 1),
        s"bound broken for '$t': est=$est cnt=$cnt n=$n k=$k")
    }
    // every provably-heavy token is present
    exact.foreach { case (t, cnt) =>
      if (cnt * (k + 1) > n)
        assert(sk.contains(t), s"heavy '$t' (cnt=$cnt, n=$n, k=$k) missing")
    }
    assert(sk.size <= k, s"sketch size ${sk.size} exceeds k=$k")
  }

  test("bound + presence hold under 1, 3, and 13 partitions (merge orders)") {
    // skewed stream: token_i appears ~ 400/i times (Zipf-ish), plus noise
    val tokens = (1 to 40).flatMap(i => Seq.fill(400 / i)(s"tok$i")) ++
      (0 until 300).map(i => s"noise$i")
    for (parts <- Seq(1, 3, 13)) {
      val sk = mgFromSpark(tokens, k = 8, parts = parts)
      assertBound(tokens, sk, k = 8)
    }
  }

  test("single dominant token survives adversarial dilution") {
    val tokens = Seq.fill(600)("heavy") ++ (0 until 1000).map(i => s"u$i")
    val sk = mgFromSpark(tokens, k = 4, parts = 7)
    assert(sk.contains("heavy"))
    assertBound(tokens, sk, k = 4)
  }

  test("serialize/deserialize round-trips the buffer exactly") {
    val agg = MisraGriesTopK(org.apache.spark.sql.catalyst.expressions.Literal("x"), 8)
    val m = mutable.HashMap(
      UTF8String.fromString("alpha") -> 3L,
      UTF8String.fromString("") -> 1L,
      UTF8String.fromString("héllo wörld") -> 17L)
    val back = agg.deserialize(agg.serialize(m))
    assert(back == m)
  }

  test("merge re-prune keeps <= k entries and preserves the union bound") {
    val agg = MisraGriesTopK(org.apache.spark.sql.catalyst.expressions.Literal("x"), 3)
    def buf(pairs: (String, Long)*) = {
      val m = agg.createAggregationBuffer()
      pairs.foreach { case (s, c) => m.put(UTF8String.fromString(s), c) }
      m
    }
    // two full sketches with disjoint keys: union has 6 > k entries
    val merged = agg.merge(buf("a" -> 10, "b" -> 5, "c" -> 2),
                           buf("d" -> 9, "e" -> 4, "f" -> 1))
    assert(merged.size <= 3)
    // the (k+1)-th largest of (10,9,5,4,2,1) is 4: survivors are a=6, d=5, b=1
    assert(merged(UTF8String.fromString("a")) == 6L)
    assert(merged(UTF8String.fromString("d")) == 5L)
    assert(merged(UTF8String.fromString("b")) == 1L)
  }

  test("property: bound holds for random streams, k, and partitioning") {
    val genTokens = Gen.listOfN(300, Gen.frequency(
      (5, Gen.oneOf("a", "b", "c")),
      (3, Gen.choose(0, 20).map(i => s"m$i")),
      (2, Gen.choose(0, 2000).map(i => s"r$i"))))
    val prop = Prop.forAll(genTokens, Gen.choose(1, 12)) { (tokens, k) =>
      val n = tokens.size.toLong
      val exact = tokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // plain-Scala replay of update+merge across a 3-way split: fast,
      // no Spark job per ScalaCheck case
      val agg = MisraGriesTopK(org.apache.spark.sql.catalyst.expressions.Literal("x"), k)
      val parts = tokens.grouped(math.max(1, tokens.size / 3)).map { chunk =>
        val m = agg.createAggregationBuffer()
        chunk.foreach { t =>
          val key = UTF8String.fromString(t)
          m.get(key) match {
            case Some(c) => m.update(key, c + 1)
            case None if m.size < k => m.put(key, 1L)
            case None =>
              // snapshot first: updating during m.foreach can resize a
              // 2.13 HashMap mid-iteration (same fix as the production op)
              m.toArray.foreach { case (kk, c) =>
                if (c == 1L) m.remove(kk) else m.update(kk, c - 1) }
          }
        }
        m
      }
      val sk = parts.reduce(agg.merge)
      sk.size <= k &&
        sk.forall { case (t, est) =>
          val cnt = exact.getOrElse(t.toString, 0L)
          est <= cnt && est * (k + 1) + n >= cnt * (k + 1)
        } &&
        exact.forall { case (t, cnt) =>
          cnt * (k + 1) <= n || sk.contains(UTF8String.fromString(t))
        }
    }
    val res = ScTest.check(ScTest.Parameters.default.withMinSuccessfulTests(100), prop)
    assert(res.passed, res.status.toString)
  }
}
