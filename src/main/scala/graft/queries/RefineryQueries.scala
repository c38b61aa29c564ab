package graft.queries

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-refinery operators rounding out the training-data pipeline:
  * C4-style boilerplate line removal, dataset snapshot diffing (the
  * data-versioning primitive), vocabulary-coverage / OOV profiling,
  * leakage-free rolling anomaly detection, and sparse random-projection
  * dimensionality reduction (Achlioptas JL).
  *
  * Scale design:
  *  - boilerplate removal is the C4/CCNet "drop lines repeated across
  *    many pages" rule: the line-frequency table is aggregated with
  *    map-side partials, the surviving boilerplate SET is tiny after the
  *    HAVING cut (frequent lines only) and broadcast back, so the corpus
  *    pays one explode + one broadcast anti-join + one per-doc regroup —
  *    text shuffles ONCE (the regroup), never for the frequency count.
  *  - snapshot diff joins two corpus versions on the 8-byte doc_id
  *    comparing sha2 digests — never text; with both snapshots bucketed
  *    by id at ingest (the layout a versioned corpus store uses) the
  *    sort-merge join needs zero Exchange.
  *  - OOV profiling is the two-stage vocab aggregation (shuffle carries
  *    vocab rows, not corpus rows) + a broadcast top-K vocab join.
  *  - rolling anomaly is one window pass per user; mean/variance come
  *    from DECIMAL power sums over a strictly-PRECEDING frame (no
  *    self-leakage), so the flag rule is exact integer/decimal
  *    arithmetic — engine-identical with no sqrt, no doubles.
  *  - random projection is a pure narrow map (zero shuffle): 16 output
  *    dims, each a fixed ±1 sparse combination of the 64 inputs.
  */
object RefineryQueries extends QueryPack {

  /** Boilerplate rule: a line is boilerplate when it occurs in at least
    * `BoilerMinDf` DISTINCT documents (C4 used "3+ occurrences in the
    * corpus"; distinct-doc counting is the robust variant — a page
    * repeating its own nav bar 50 times is not corpus evidence). */
  private val BoilerMinDf = 5L

  /** Sparse JL projection geometry: 64 -> 16 dims, Achlioptas weights
    * w(j,d) in {-1, 0, +1} with density 1/3, derived from the same
    * Knuth multiplicative hash every deterministic sampler here uses —
    * no RNG, so the projection matrix is a constant both engines
    * materialize identically. The sqrt(3/k) scale factor is deliberately
    * omitted: it is a single global constant, so cosine and L2 RANKINGS
    * downstream are unchanged, and integer weights keep every output a
    * pure left-to-right double fold (bit-identical cross-engine). */
  private val RpOutDims = 16
  private val RpInDims = 64

  /** w(j,d): Knuth hash of the (output dim, input dim) cell index;
    * h%6==0 -> +1, h%6==1 -> -1, else 0 (density 1/3, E[w]=0). */
  private[queries] def rpWeight(j: Int, d: Int): Int = {
    val h = (2654435761L * (j * RpInDims + d + 1)) % 4294967296L
    (h % 6) match { case 0 => 1; case 1 => -1; case _ => 0 }
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- C4-style boilerplate line removal ----
    // Pages are planted deterministically from the documents table: a
    // per-source nav header, the doc's own words as two body lines, and
    // a per-source footer (the fixture convention q_text_redact uses for
    // PII). The operator proper: explode lines with position, count
    // DISTINCT docs per line (two-stage agg — the shuffle carries
    // distinct lines; at 100 TB the group key is the 8-byte line hash
    // with a digest confirm), broadcast the small frequent-line set,
    // anti-join, reassemble each page in line order. Output keeps every
    // doc (a fully-boilerplate page becomes an empty string, it does not
    // vanish — dropping a row silently would corrupt downstream joins).
    "q_filter_boilerplate" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val w = split($"text", " ")
      val half = (size(w) / lit(2)).cast("int")
      val pages = docs.select($"doc_id",
        concat_ws("\n",
          concat(lit("home | about | "), $"source"),
          array_join(slice(w, lit(1), half), " "),
          array_join(slice(w, half + 1, size(w) - half), " "),
          concat(lit("(c) 2026 "), $"source", lit(" all rights reserved"))
        ).as("page"))
      val lines = pages.select($"doc_id",
        posexplode(split($"page", "\n")).as(Seq("pos", "line")))
      val boiler = lines.groupBy($"line")
        .agg(countDistinct($"doc_id").as("df"))
        .filter($"df" >= BoilerMinDf)
        .select($"line")
      val kept = lines.join(broadcast(boiler), Seq("line"), "left_anti")
      val rebuilt = kept.groupBy($"doc_id")
        .agg(
          array_join(
            transform(array_sort(collect_list(struct($"pos", $"line"))),
              x => x.getField("line")), "\n").as("clean_text"),
          count(lit(1)).as("n_kept"))
      docs.select($"doc_id")
        .join(rebuilt, Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"clean_text", lit("")).as("clean_text"),
          (lit(4L) - coalesce($"n_kept", lit(0L))).cast("long").as("n_removed"))
        .orderBy($"doc_id")
    },

    // ---- dataset snapshot diff (data versioning) ----
    // The corpus-release primitive: classify every doc_id across two
    // snapshots as added / removed / changed / unchanged. Snapshot v2 is
    // a pure function of v1 (deterministic edit script: %17 deleted,
    // %13 revised, %29 cloned under a new id), so the oracle replays it.
    // The diff itself joins ONLY (doc_id, digest) — at 100 TB both
    // snapshot manifests are digest tables bucketed by id, and the full
    // outer merge join runs with zero Exchange and zero text movement.
    "q_snapshot_diff" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val v1 = docs.select($"doc_id", sha2($"text", 256).as("h1"))
      val v2src = docs.filter($"doc_id" % 17 =!= 0)
        .select($"doc_id",
          when($"doc_id" % 13 === 0, concat($"text", lit(" [rev2]")))
            .otherwise($"text").as("text"))
        .unionByName(docs.filter($"doc_id" % 29 === 0)
          .select(($"doc_id" + 1000000L).as("doc_id"),
            concat(lit("new: "), $"text").as("text")))
      val v2 = v2src.select($"doc_id", sha2($"text", 256).as("h2"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .select($"doc_id",
          when($"h1".isNull, lit("added"))
            .when($"h2".isNull, lit("removed"))
            .when($"h1" === $"h2", lit("unchanged"))
            .otherwise(lit("changed")).as("status"))
        .orderBy($"doc_id")
    },

    // ---- vocabulary coverage / OOV rate ----
    // Tokenizer-fit diagnostic: per document, the fraction of token
    // occurrences outside the corpus top-K vocabulary. Vocab = top-20
    // tokens by (count DESC, token ASC) — the deterministic tiebreak
    // every top-k here uses. Two-stage count (shuffle carries the vocab,
    // not the token stream), vocab broadcast back onto one exploded
    // pass, per-doc aggregate with map-side partials. The final rate is
    // ONE long/long IEEE division — identical bits in both engines.
    "q_text_oov" -> { (s, d) =>
      import s.implicits._
      val toks = Tables.documents(s, d)
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
      val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .orderBy($"cnt".desc, $"tok").limit(20)
        .select($"tok", lit(true).as("iv"))
      toks.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when($"iv".isNull, 1L).otherwise(0L)).as("n_oov"))
        .select($"doc_id",
          asLong($"n_tokens").as("n_tokens"),
          asLong($"n_oov").as("n_oov"),
          ($"n_oov".cast("double") / $"n_tokens").as("oov_rate"))
        .orderBy($"doc_id")
    },

    // ---- rolling z-score anomaly detection (leakage-free) ----
    // Per user, each event is scored against the 10 STRICTLY PRECEDING
    // events (ROWS -10..-1 — the current value never contaminates its
    // own baseline). Flag when (x-mean)^2 > (3*std)^2 with at least 5
    // context rows. The inequality is cleared of division and sqrt:
    //   (x*n - s1)^2 > 9 * (n*s2 - s1^2)
    // over DECIMAL power sums (the q_agg_stats recipe), so the flag is
    // exact decimal arithmetic — merge-order- and engine-independent.
    // One shuffle on user_id; state is O(window) per key.
    "q_ts_anomaly" -> { (s, d) =>
      import s.implicits._
      val ev = Tables.events(s, d)
        .select($"event_id", $"user_id", $"ts", dec($"value").as("x"))
      val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
        .rowsBetween(-10, -1)
      ev.withColumn("n", count($"x").over(w))
        .withColumn("s1", sum($"x").over(w))
        .withColumn("s2", sum($"x" * $"x").over(w))
        .withColumn("flagged",
          $"n" >= 5 &&
            ($"x" * $"n" - $"s1") * ($"x" * $"n" - $"s1") >
              lit(9) * ($"n" * $"s2" - $"s1" * $"s1"))
        .select($"event_id", $"user_id", asLong($"n").as("n_ctx"), $"flagged")
        .orderBy($"event_id")
    },

    // ---- sparse random projection (Achlioptas JL, 64 -> 16) ----
    // Dimensionality reduction for embedding pipelines: y_j = sum over d
    // of w(j,d)*x_d with fixed sparse ±1 weights — distances are
    // preserved within (1±eps) by the JL lemma while downstream ANN
    // (tiling, LSH, IVF) pays 4x less compute and shuffle width. A pure
    // NARROW MAP: zero shuffle, codegen arithmetic, no model state. Each
    // output is an explicit left-to-right chain of adds/subtracts over
    // the ~1/3 nonzero inputs, so both engines produce identical bits
    // (the DotProduct fold-order convention).
    "q_embed_rproject" -> { (s, d) =>
      import s.implicits._
      import graft.llm.VectorOps.asDoubles
      val emb = Tables.embeddings(s, d)
        .select($"vec_id", asDoubles($"embedding").as("v"))
      val outCols = (0 until RpOutDims).map { j =>
        val terms = (0 until RpInDims)
          .map(dd => (dd, rpWeight(j, dd))).filter(_._2 != 0)
        val c = terms.toList match {
          case Nil => lit(0.0)
          case (d0, s0) :: rest =>
            val head = if (s0 > 0) element_at($"v", d0 + 1)
                       else -element_at($"v", d0 + 1)
            rest.foldLeft(head) { case (acc, (dd, sg)) =>
              if (sg > 0) acc + element_at($"v", dd + 1)
              else acc - element_at($"v", dd + 1)
            }
        }
        c.as(s"y$j")
      }
      emb.select(($"vec_id" +: outCols): _*).orderBy($"vec_id")
    },

    // ---- URL canonicalization + duplicate grouping ----
    // The web-corpus dedup preprocessor: the same page is crawled under
    // many URL spellings (scheme/host case, default ports, tracking
    // params, param order, trailing slash, fragments). Four deterministic
    // messy variants are planted per doc (doc_id%50 gives ~4 docs per
    // canonical page so groups actually form); canonicalization is a pure
    // NARROW MAP of engine-portable regex/array ops (no \d, no
    // backreferences — identical in Java regex and RE2), then one window
    // pass over the canonical key counts variants and elects the min-id
    // representative. At 100 TB the group key is the canonical URL's
    // 8-byte hash and the window is a groupBy-join — same shape as exact
    // dedup; the canonicalization itself shuffles nothing.
    "q_url_canonical" -> { (s, d) =>
      import s.implicits._
      val page = ($"doc_id" % 50).cast("string")
      val raw =
        when($"doc_id" % 4 === 0,
          concat(lit("HTTP://WWW.Example.COM:80/cat/item?utm_source=feed&id="),
            page, lit("&b=2#frag")))
        .when($"doc_id" % 4 === 1,
          concat(lit("http://www.example.com/cat/item?id="), page, lit("&b=2")))
        .when($"doc_id" % 4 === 2,
          concat(lit("http://www.Example.com:80/cat/item/?b=2&utm_medium=email&id="),
            page))
        .otherwise(
          concat(lit("http://www.example.com/cat/item?b=2&id="), page,
            lit("&ref=partner")))
      val u0 = split($"raw_url", "#").getItem(0)
      val scheme = lower(regexp_extract(u0, "^([A-Za-z]+)://", 1))
      val auth = lower(regexp_extract(u0, "^[A-Za-z]+://([^/?]+)", 1))
      val host =
        when(scheme === "http", regexp_replace(auth, ":80$", ""))
        .when(scheme === "https", regexp_replace(auth, ":443$", ""))
        .otherwise(auth)
      val path0 = regexp_replace(
        regexp_extract(u0, "^[A-Za-z]+://[^/?]+([^?]*)", 1), "/$", "")
      val path = when(path0 === "", lit("/")).otherwise(path0)
      val qs = array_join(
        array_sort(filter(split(regexp_extract(u0, "[?](.*)$", 1), "&"),
          p => !(p.like("utm_%") || p.like("ref=%")) && p =!= "")), "&")
      val canon = concat(scheme, lit("://"), host, path,
        when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
      val w = Window.partitionBy($"canon_url")
      Tables.documents(s, d)
        .select($"doc_id", raw.as("raw_url"))
        .withColumn("canon_url", canon)
        .withColumn("n_variants", count(lit(1)).over(w))
        .withColumn("is_rep", $"doc_id" === min($"doc_id").over(w))
        .select($"doc_id", $"raw_url", $"canon_url",
          asLong($"n_variants").as("n_variants"), $"is_rep")
        .orderBy($"doc_id")
    },

    // ---- text normalization (cleaning pass) ----
    // The canonical-form map run before exact dedup: lowercase, control
    // whitespace -> space, collapse runs, trim. Messiness is planted
    // deterministically (leading/trailing pad, a shouty uppercase head,
    // a tab seam) so the pass has real work at every row. Pure narrow
    // map — zero shuffle at any corpus size; every op is exact ASCII
    // string algebra, bit-identical across engines.
    "q_text_normalize" -> { (s, d) =>
      import s.implicits._
      val messy = concat(lit("  "), upper(substring($"text", 1, 20)),
        lit("\t"), substring($"text", 21, 1000000), lit("   "))
      val norm = trim(regexp_replace(
        replace(lower($"messy"), lit("\t"), lit(" ")), " +", " "))
      Tables.documents(s, d)
        .select($"doc_id", messy.as("messy"))
        .select($"doc_id",
          length($"messy").as("n_before"),
          norm.as("norm_text"))
        .select($"doc_id", asLong($"n_before").as("n_before"),
          asLong(length($"norm_text")).as("n_after"), $"norm_text")
        .orderBy($"doc_id")
    },

    // ---- incremental aggregate maintenance (materialized-view delta) ----
    // The 100 TB re-aggregation pattern: a per-source stats table is
    // maintained by MERGING stored algebraic partials with the new
    // batch's partials — count+count, sum+sum, min(min), max(max) — and
    // derived values (avg) come off the merged partials at read time.
    // The corpus is NEVER rescanned on update: the stored v1 partials
    // are written to parquet and read back (the artifact path a real
    // view-maintenance job uses), the delta scans ONLY the new batch,
    // and the merge is a union + regroup over O(keys) rows. The oracle
    // recomputes the aggregate from the FULL corpus, so any partial
    // that is not correctly mergeable (a non-algebraic sneak like a
    // stored average, min/max mixed up, double drift) hash-mismatches.
    "q_agg_incremental" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      def partial(df: DataFrame) = df.groupBy($"source").agg(
        count(lit(1)).as("n_docs"),
        sum($"n_chars").as("chars_sum"),
        min($"n_chars").as("chars_min"),
        max($"n_chars").as("chars_max"))
      val dir = tempFixtureDir("graft_agg_v1") + "/v1"
      partial(docs.filter($"doc_id" % 3 =!= 0))
        .write.mode("overwrite").parquet(dir)
      val v1 = s.read.parquet(dir)
      v1.unionByName(partial(docs.filter($"doc_id" % 3 === 0)))
        .groupBy($"source").agg(
          sum($"n_docs").as("n_docs"),
          sum($"chars_sum").as("chars_sum"),
          min($"chars_min").as("chars_min"),
          max($"chars_max").as("chars_max"))
        .select($"source", asLong($"n_docs").as("n_docs"),
          asLong($"chars_sum").as("chars_sum"),
          asLong($"chars_min").as("chars_min"),
          asLong($"chars_max").as("chars_max"),
          ($"chars_sum".cast("double") / $"n_docs").as("avg_chars"))
        .orderBy($"source")
    },

    // ---- native Misra-Gries heavy-hitter sketch ----
    // One-pass O(k)-memory top-k via the native TypedImperativeAggregate
    // (functions/MisraGriesTopK): partial sketches per partition, merged
    // with the error-preserving re-prune — the fixed-memory path where
    // the exact heavy-hitter count must shuffle the whole vocabulary.
    // Oracle contract (the q_agg_approx_distinct convention): for every
    // token PROVABLY heavy (cnt*(k+1) > n, so the MG guarantee forces it
    // into the sketch), assert presence and the two-sided bound
    //   cnt - n/(k+1) <= est <= cnt
    // in exact integer arithmetic. These booleans are TRUE regardless of
    // partitioning/merge order — a sketch bug (lost clone, wrong prune
    // constant, bad serialization) breaks them.
    "q_sketch_mg" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      val k = 16
      // token = word LENGTH: a small skewed alphabet, so provably-heavy
      // tokens EXIST at every scale factor (raw words at sf0.01 are too
      // diverse — no word clears n/(k+1) and the contract row set would
      // be vacuously empty)
      val toks = Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("w"))
        .select(length($"w").cast("string").as("tok"))
      val sk = toks.agg(
        call_function("mg_topk", $"tok", lit(k)).as("sk"),
        count(lit(1)).as("n"))
      toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(sk))
        .filter($"cnt" * (k + 1) > $"n")
        .select($"tok", asLong($"cnt").as("cnt"),
          (element_at($"sk", $"tok").isNotNull &&
            element_at($"sk", $"tok") <= $"cnt" &&
            element_at($"sk", $"tok") * (k + 1) + $"n" >= $"cnt" * (k + 1)
          ).as("within_bound"))
        .orderBy($"tok")
    }
  )

  /** Generated oracle arm for one projected dim: the same ±term chain,
    * left-to-right, over CAST(embedding[d+1] AS DOUBLE). */
  private def rpOracleDim(j: Int): String = {
    val terms = (0 until RpInDims).map(dd => (dd, rpWeight(j, dd))).filter(_._2 != 0)
    def t(dd: Int) = s"CAST(embedding[${dd + 1}] AS DOUBLE)"
    terms.toList match {
      case Nil => "0.0"
      case (d0, s0) :: rest =>
        val head = if (s0 > 0) t(d0) else s"(- ${t(d0)})"
        rest.foldLeft(head) { case (acc, (dd, sg)) =>
          s"($acc ${if (sg > 0) "+" else "-"} ${t(dd)})"
        }
    }
  }

  override def oracles: Map[String, String] = Map(

    // full replay: page construction, line frequency, removal, ordered
    // reassembly — all exact string/integer ops
    "q_filter_boilerplate" ->
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS ws FROM documents),
         |pages AS (
         |  SELECT doc_id,
         |    'home | about | ' || source || chr(10) ||
         |    array_to_string(ws[1 : len(ws) // 2], ' ') || chr(10) ||
         |    array_to_string(ws[len(ws) // 2 + 1 : len(ws)], ' ') || chr(10) ||
         |    '(c) 2026 ' || source || ' all rights reserved' AS page
         |  FROM w),
         |lines AS (
         |  SELECT doc_id, CAST(i AS INT) AS pos,
         |    string_split(page, chr(10))[CAST(i AS INT)] AS line
         |  FROM pages, (SELECT unnest(range(1, 5)) AS i) ix),
         |boiler AS (
         |  SELECT line FROM lines GROUP BY line
         |  HAVING count(DISTINCT doc_id) >= $BoilerMinDf),
         |kept AS (
         |  SELECT * FROM lines WHERE line NOT IN (SELECT line FROM boiler)),
         |agg AS (
         |  SELECT doc_id,
         |    string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         |    count(*) AS n_kept
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(a.clean_text, '') AS clean_text,
         |  CAST(4 - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed
         |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    // independent ground truth compares TEXTS, not digests: a digest
    // collision or hex-format quirk on the Spark side would break the
    // status classification here
    "q_snapshot_diff" ->
      """WITH v1 AS (SELECT doc_id, text FROM documents),
        |v2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text
        |  FROM documents WHERE doc_id % 17 != 0
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, 'new: ' || text AS text
        |  FROM documents WHERE doc_id % 29 = 0)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN v1.doc_id IS NULL THEN 'added'
        |       WHEN v2.doc_id IS NULL THEN 'removed'
        |       WHEN v1.text = v2.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_text_oov" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (
        |  SELECT tok FROM toks GROUP BY tok
        |  ORDER BY count(*) DESC, tok LIMIT 20),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |    sum(CASE WHEN tok IN (SELECT tok FROM vocab) THEN 0 ELSE 1 END) AS n_oov
        |  FROM toks GROUP BY doc_id)
        |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_oov AS BIGINT) AS n_oov,
        |  CAST(n_oov AS DOUBLE) / n_tokens AS oov_rate
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_ts_anomaly" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, CAST(value AS DECIMAL(12,2)) AS x
        |  FROM events),
        |w AS (
        |  SELECT event_id, user_id, x,
        |    count(x) OVER win AS n,
        |    sum(x) OVER win AS s1,
        |    sum(x * x) OVER win AS s2
        |  FROM e
        |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id, CAST(n AS BIGINT) AS n_ctx,
        |  (n >= 5 AND (x*n - s1)*(x*n - s1) > 9*(n*s2 - s1*s1)) AS flagged
        |FROM w ORDER BY event_id""".stripMargin,

    "q_embed_rproject" ->
      (0 until RpOutDims).map(j => s"  ${rpOracleDim(j)} AS y$j")
        .mkString("SELECT vec_id,\n", ",\n", "\nFROM embeddings ORDER BY vec_id"),

    // full replay: plant, regex decomposition, tracking-param filter,
    // param sort, reassembly, and the dup-group window — all exact
    // string/integer ops with engine-portable regexes
    "q_url_canonical" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'HTTP://WWW.Example.COM:80/cat/item?utm_source=feed&id='
        |                  || CAST(doc_id % 50 AS VARCHAR) || '&b=2#frag'
        |      WHEN 1 THEN 'http://www.example.com/cat/item?id='
        |                  || CAST(doc_id % 50 AS VARCHAR) || '&b=2'
        |      WHEN 2 THEN 'http://www.Example.com:80/cat/item/?b=2&utm_medium=email&id='
        |                  || CAST(doc_id % 50 AS VARCHAR)
        |      ELSE 'http://www.example.com/cat/item?b=2&id='
        |                  || CAST(doc_id % 50 AS VARCHAR) || '&ref=partner'
        |    END AS raw_url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, raw_url, string_split(raw_url, '#')[1] AS u0 FROM raw),
        |comp AS (
        |  SELECT doc_id, raw_url,
        |    lower(regexp_extract(u0, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(u0, '^[A-Za-z]+://([^/?]+)', 1)) AS auth,
        |    regexp_replace(regexp_extract(u0, '^[A-Za-z]+://[^/?]+([^?]*)', 1),
        |      '/$', '') AS path0,
        |    array_to_string(list_sort(list_filter(
        |      string_split(regexp_extract(u0, '[?](.*)$', 1), '&'),
        |      p -> NOT (p LIKE 'utm_%' OR p LIKE 'ref=%') AND p != '')), '&') AS qs
        |  FROM parts),
        |canon AS (
        |  SELECT doc_id, raw_url,
        |    scheme || '://' ||
        |    CASE WHEN scheme = 'http' THEN regexp_replace(auth, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(auth, ':443$', '')
        |         ELSE auth END ||
        |    CASE WHEN path0 = '' THEN '/' ELSE path0 END ||
        |    CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url
        |  FROM comp)
        |SELECT doc_id, raw_url, canon_url,
        |  CAST(count(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_variants,
        |  doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS is_rep
        |FROM canon ORDER BY doc_id""".stripMargin,

    "q_text_normalize" ->
      """WITH messy AS (
        |  SELECT doc_id,
        |    '  ' || upper(substring(text, 1, 20)) || chr(9)
        |         || substring(text, 21) || '   ' AS messy
        |  FROM documents),
        |norm AS (
        |  SELECT doc_id, messy,
        |    trim(regexp_replace(replace(lower(messy), chr(9), ' '),
        |      ' +', ' ', 'g')) AS norm_text
        |  FROM messy)
        |SELECT doc_id, CAST(length(messy) AS BIGINT) AS n_before,
        |  CAST(length(norm_text) AS BIGINT) AS n_after, norm_text
        |FROM norm ORDER BY doc_id""".stripMargin,

    // independent ground truth = ONE aggregate over the full corpus: the
    // incremental merge must land on exactly this
    "q_agg_incremental" ->
      """SELECT source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum,
        |  CAST(min(n_chars) AS BIGINT) AS chars_min,
        |  CAST(max(n_chars) AS BIGINT) AS chars_max,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // the bound booleans are mathematically TRUE for a correct MG sketch
    // under ANY merge order, so the oracle states them as literals over
    // the independently-computed heavy set
    "q_sketch_mg" ->
      """WITH toks AS (
        |  SELECT CAST(length(unnest(string_split(text, ' '))) AS VARCHAR) AS tok
        |  FROM documents),
        |n AS (SELECT count(*) AS n FROM toks),
        |exact AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok)
        |SELECT tok, CAST(cnt AS BIGINT) AS cnt, TRUE AS within_bound
        |FROM exact, n WHERE cnt * 17 > n
        |ORDER BY tok""".stripMargin
  )
}
