package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, Literal}
import org.apache.spark.sql.types.DoubleType

/** The graft SQL functions, as ONE table of (name, usage, builder): a
  * session configured with `spark.sql.extensions=graft.GraftExtensions`
  * injects it ([[graft.GraftExtensions]]), and [[register]] installs the
  * same table on a session created without the extension. */
package object functions {

  /** A constant integer argument, with a clear error — calling
    * eval(null) on an unresolved column reference would otherwise crash
    * analysis with an opaque UnsupportedOperationException. */
  private def constInt(e: Expression, fnName: String, argName: String): Int =
    e match {
      case Literal(v: Number, _) => v.intValue()
      case other if other.foldable =>
        other.eval(null) match {
          case n: Number => n.intValue()
          case _ => throw new IllegalArgumentException(
            s"$fnName: $argName must be a constant integer")
        }
      case _ => throw new IllegalArgumentException(
        s"$fnName: $argName must be a constant integer, not a column")
    }

  val sqlFunctions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("web_mercator", "web_mercator(lon, lat) - WGS84 -> EPSG:3857 struct<x,y>",
      a => WebMercator(Cast(a(0), DoubleType), Cast(a(1), DoubleType))),
    ("geodesic_ngon",
      "geodesic_ngon(lon, lat, radiusMeters, n) - geodesic n-gon around a point",
      a => GeodesicNgon(a(0), a(1), a(2), a(3))),
    ("kgram_hashes", "kgram_hashes(str, k) - rolling polynomial hash per k-gram",
      a => KGramHashes(a(0), constInt(a(1), "kgram_hashes", "k"))),
    ("dot_product",
      "dot_product(array<double>, array<double>) - sequential-fold dot",
      a => DotProduct(a(0), a(1))),
    ("sorted_jaccard",
      "sorted_jaccard(array<bigint>, array<bigint>) - merge-walk jaccard",
      a => SortedJaccard(a(0), a(1))),
    ("simhash64", "simhash64(array<bigint>) - 64-bit simhash of token hashes",
      a => SimHash64(a(0))),
    ("minhash_signature",
      "minhash_signature(array<bigint>, k) - k-permutation minhash",
      a => MinHashSignature(a(0), constInt(a(1), "minhash_signature", "k"))),
    ("zorder64", "zorder64(a, b) - 2-D Morton interleave of the low 32 bits",
      a => ZOrder64(a(0), a(1))),
    ("shingle_hashes",
      "shingle_hashes(str, n) - sorted distinct xxhash64 of n-word shingles",
      a => ShingleHashes(a(0), constInt(a(1), "shingle_hashes", "n"))),
    ("word_hashes", "word_hashes(str) - polynomial hash per word, in order",
      a => WordHashes(a(0))),
    ("span_hashes",
      "span_hashes(array<bigint>, w) - rolling hash per w-element span",
      a => SpanHashes(a(0), constInt(a(1), "span_hashes", "w"))),
    // aggregate: the analyzer wraps a bare AggregateFunction from the
    // registry in an AggregateExpression, same as Spark's own builders
    ("mg_topk", "mg_topk(str, k) - Misra-Gries heavy hitters, k counters",
      a => MisraGriesTopK(a(0), constInt(a(1), "mg_topk", "k"))),
    ("explode_track", "explode_track(array<struct>) - flatten a track to rows",
      a => ExplodeTrack(a(0))))

  /** Install every [[sqlFunctions]] entry on `spark` for SQL / expr()
    * use. */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}
