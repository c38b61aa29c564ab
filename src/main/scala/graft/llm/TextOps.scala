package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis building blocks for a training-data pipeline: shingling,
  * MinHash signatures, SimHash, quality metrics, language-ID heuristic.
  * Everything is built from codegen'd Catalyst expressions (higher-order
  * array functions + xxhash64) — no Scala UDF in any hot path, so these
  * scale as plain narrow projections over the corpus scan.
  */
object TextOps {

  /** Whitespace word list. */
  def words(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles (default n=3). Documents shorter than
    * n words produce an empty shingle set — guarded with when(): Spark's
    * sequence(1, 0) DESCENDS ([1,0]) rather than producing an empty
    * array, and ANSI element_at throws on out-of-bounds, so the naive
    * greatest(size-2, 0) shape crashes on short documents. */
  def shingles(text: Column, n: Int = 3): Column = {
    val w = words(text)
    val grams = transform(
      sequence(lit(1), size(w) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(w, i + j)): _*))
    when(size(w) >= n, array_distinct(grams))
      .otherwise(array().cast("array<string>"))
  }

  /** Shingle hashes: one 64-bit string hash per shingle. All downstream
    * minhash permutations mix THESE longs (cheap) instead of re-hashing
    * the strings k times — the string is hashed exactly once per shingle. */
  def shingleHashes(sh: Column): Column =
    array_distinct(transform(sh, s => xxhash64(s)))

  /** LSH band keys from a signature ARRAY column (graft.functions.
    * MinHashSignature output): `bands` hashes, each over `rowsPerBand`
    * consecutive slots. Pairs sharing any band key are candidates.
    *
    * Defaults 32x2 put the S-curve knee at (1/32)^(1/2) ~ 0.18, far below
    * the 0.5 verify threshold: candidate recall for a true Jaccard-0.5
    * pair is 1-(1-0.25)^32 ~ 0.9999 (and ~1-6e-7 at j=0.6), so the
    * exact-Jaccard verify stage determines the result set even for
    * borderline pairs. The earlier 16x4 banding had its knee AT 0.5 —
    * only ~64% recall for a pair exactly at threshold, which would make
    * an exact-ground-truth compare flaky on borderline data. Cost: r=2
    * bands admit ~j^2 background collisions per band (vs j^4), more
    * candidate verifies — the correct trade while a hash-exact gate
    * defines correctness; a production corpus would tune (b, r) to its
    * own dup distribution. */
  def bandKeysFromSig(sig: Column, bands: Int = 32, rowsPerBand: Int = 2): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b) +: (0 until rowsPerBand).map(r =>
        element_at(sig, b * rowsPerBand + r + 1)): _*)
    }: _*)

  /** Exact Jaccard over two distinct-element arrays (int/int division in
    * double: bit-identical to DuckDB's len(intersect)/len(union)). */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** SORTED distinct shingle hashes: pairs with the native merge-walk
    * sorted_jaccard kernel (graft.functions.SortedJaccard). */
  def sortedShingleHashes(sh: Column): Column = array_sort(shingleHashes(sh))

  /** Same result as sortedShingleHashes(shingles(text, n)) — identical
    * hash values, sorted + deduped — via the one-pass byte-slice codegen
    * kernel (graft.functions.ShingleHashes): no shingle-string
    * materialization, no interpreted HOFs. ~20x faster at sf0.1; the hot
    * path for every shingle-based dedup. Callers must
    * graft.functions.register(spark) first. */
  def fastShingleHashes(text: Column, n: Int = 3): Column =
    call_function("shingle_hashes", text, lit(n))

  /** 64-bit SimHash over the word multiset: bit j of the result is the
    * sign of sum_w (+1/-1 depending on bit j of hash(w)). Both stages run
    * in native codegen kernels (WordHashes + SimHash64); the polynomial
    * word hash (vs xxhash64) is what lets the DuckDB oracle replay the
    * whole signature in SQL. Callers must
    * graft.functions.register(spark) first. */
  def simhash(text: Column): Column =
    call_function("simhash64", call_function("word_hashes", text))

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit blocks of a 64-bit simhash — pairs with hamming <= 3 must
    * share at least one of the 4 blocks (pigeonhole), so block equality
    * is a lossless LSH blocking key for distance <= 3. */
  def simhashBlocks(sig: Column): Column =
    array((0 until 4).map(b =>
      struct(lit(b).as("blk"),
             shiftright(sig, b * 16).bitwiseAND(0xFFFFL).as("v"))): _*)

  private val Stopwords = Seq("the", "a", "of", "to", "and", "in", "is", "it", "for", "on")

  /** Quality metrics + a deterministic linear quality score. All ratios
    * are int/int double divisions — reproducible bit-for-bit in SQL. */
  def qualityColumns(text: Column): Seq[Column] = {
    val w = words(text)
    val nTok = size(w)
    val nStop = size(filter(w, x => x.isin(Stopwords.map(_.asInstanceOf[Any]): _*)))
    val nDistinct = size(array_distinct(w))
    val stopRatio = nStop.cast("double") / nTok
    val distinctRatio = nDistinct.cast("double") / nTok
    val lenScore = least(nTok.cast("double") / 100.0, lit(1.0))
    Seq(
      nTok.cast("long").as("n_tokens"),
      nStop.cast("long").as("n_stopwords"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(distinctRatio, 6).as("distinct_ratio"),
      round(stopRatio * 0.5 + lenScore * 0.3 + distinctRatio * 0.2, 6).as("quality_score"))
  }

  /** Language-ID heuristic: score each language's stopword profile against
    * the document's words, argmax via lexicographic struct max (ties break
    * toward the later language name — deterministic). The profiles are
    * tiny on purpose; this is the n-gram-heuristic shape, not a model. */
  private val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein"),
    "en" -> Seq("the", "a", "of", "to", "and", "is", "it"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es"),
    "fr" -> Seq("le", "la", "de", "et", "est", "les", "un"),
    "zh" -> Seq("de", "shi", "bu", "le", "ren", "wo", "you"))

  def langId(text: Column): Column = {
    val w = words(text)
    val scored = LangProfiles.map { case (lang, profile) =>
      struct(
        size(filter(w, x => x.isin(profile.map(_.asInstanceOf[Any]): _*))).as("score"),
        lit(lang).as("lang"))
    }
    array_max(array(scored: _*)).getField("lang")
  }
}
