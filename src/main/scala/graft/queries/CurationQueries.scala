package graft.queries

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators: blocklist filtering behind a broadcast
  * Bloom prefilter, and deterministic weighted (systematic) sampling.
  *
  * Scale design:
  *  - the Bloom path is the 100 TB shape for "remove these N documents
  *    from the corpus": the corpus side stays a NARROW MAP against a
  *    broadcast bitset (definite-no rows never join anything); only the
  *    tiny candidate set pays an exact-confirm join. A plain anti-join
  *    would shuffle, or at best hash-probe, every corpus row.
  *  - weighted sampling is one window prefix-sum; at 100 TB the same
  *    selection rule runs as per-partition partial sums + a broadcast
  *    offset vector (the classic distributed scan), because the rule
  *    only needs each row's cumulative weight, not a global sort order
  *    beyond the already-bucketed id.
  */
object CurationQueries extends QueryPack {

  /** Bloom geometry: m = 4096 bits as 128 32-bit words stored in BIGINTs
    * (bit index <= 31 keeps every stored word positive — no sign games
    * in either engine), k = 3 hash probes via xxhash64(j, text). m is a
    * power of two so reducing the 64-bit hash mod m is exact low-bit
    * masking regardless of sign convention. Sized for the fixture
    * blocklist (~46 texts -> k*n/m ~ 3% fill, fp ~ 1e-5 per probe
    * triple); production sizes m to the blocklist, not the corpus. */
  private val BloomBits = 4096L
  private val BloomK = 3

  /** Corpus rows tagged with the Bloom verdict (`cand`): build the bitset
    * from `block`, broadcast it as ONE map row, and evaluate the k probes
    * per corpus row as a narrow map — no corpus-side shuffle anywhere.
    * Package-visible so the spec can assert the PRUNING contract (the
    * oracle gate only proves the final answer; a bloom that marked every
    * row a candidate would still pass it). */
  private[queries] def bloomProbe(docs: DataFrame, block: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    def posCol(j: Int) = pmod(xxhash64(lit(j), $"text"), lit(BloomBits))
    val bloom = block
      .select(explode(array((0 until BloomK).map(posCol): _*)).as("p"))
      .select(expr("p div 32").as("word"),
        expr("shiftleft(cast(1 as bigint), cast(p % 32 as int))").as("bit"))
      .groupBy($"word").agg(expr("bit_or(bit)").as("bits"))
      .agg(map_from_entries(collect_list(struct($"word", $"bits"))).as("bm"))
    docs
      .select(Seq($"doc_id", $"n_chars", $"text") ++
        (0 until BloomK).map(j => posCol(j).as(s"p$j")): _*)
      .crossJoin(broadcast(bloom))
      .withColumn("cand",
        (0 until BloomK).map(j => coalesce(
          expr(s"(element_at(bm, p$j div 32) & " +
            s"shiftleft(cast(1 as bigint), cast(p$j % 32 as int))) != 0"),
          lit(false))).reduce(_ && _))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- blocklist filtering: broadcast Bloom prefilter + exact confirm ----
    // Remove every document whose text matches a blocklisted document
    // (here: doc_id % 11 == 0 — the "opted-out / flagged provider" set).
    // Plan: blocklist -> k bit positions -> bit_or per word -> ONE map row,
    // broadcast; corpus rows compute the same k positions (narrow map) and
    // only all-bits-set candidates reach the sha2-digest anti-join confirm.
    // Bloom false negatives are impossible, so definite-no rows are exact
    // survivors; the oracle is the plain text-level anti-join, which any
    // bit-logic defect on the Spark side would break.
    "q_filter_bloom" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val block = docs.filter($"doc_id" % 11 === 0)
      val probed = bloomProbe(docs, block)
      val confirmed = probed.filter($"cand")
        .withColumn("h", sha2($"text", 256))
        .join(block.select(sha2($"text", 256).as("h")).distinct(), Seq("h"), "left_anti")
      probed.filter(!$"cand")
        .select($"doc_id", asLong($"n_chars").as("n_chars"))
        .unionByName(confirmed.select($"doc_id", asLong($"n_chars").as("n_chars")))
        .orderBy($"doc_id")
    },

    // ---- weighted systematic sampling (deterministic, integer-exact) ----
    // Select ~k documents with inclusion probability proportional to
    // n_chars: a document is picked when its cumulative-weight interval
    // crosses a multiple of total/k. All arithmetic is BIGINT (cum*k
    // integer-divided by total), so both engines agree bit-for-bit —
    // no RNG, no floating point, reproducible under reruns and
    // repartitioning (the property a training-data sampler must have).
    // The cumulative weight is a DISTRIBUTED prefix sum: per-bucket
    // partial sums (buckets are doc_id ranges, so bucket order IS doc
    // order), an exclusive running offset over the tiny bucket table,
    // and a per-bucket window — no single-partition global window
    // anywhere, so the scan stays parallel at any corpus size.
    "q_sample_weighted" -> { (s, d) =>
      import s.implicits._
      val k = 50L
      val docs = Tables.documents(s, d).select($"doc_id", $"n_chars")
        .withColumn("bkt", expr("doc_id div 256"))
      val tot = docs.agg(sum($"n_chars").cast("long").as("total"))
      val boff = docs.groupBy($"bkt").agg(sum($"n_chars").cast("long").as("bw"))
        .withColumn("off", coalesce(sum($"bw").over(
          Window.orderBy($"bkt").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .select($"bkt", $"off")
      val w = Window.partitionBy($"bkt").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(broadcast(boff), "bkt")
        .withColumn("cum_w", $"off" + sum($"n_chars").over(w).cast("long"))
        .crossJoin(broadcast(tot))
        .filter(expr(s"(cum_w * $k) div total > ((cum_w - n_chars) * $k) div total"))
        .select($"doc_id", asLong($"n_chars").as("weight"), $"cum_w")
        .orderBy($"doc_id")
    },

    // ---- per-domain token-budget capping ----
    // Data-mixing quota: each source (domain) contributes documents in
    // doc_id order until its running token total reaches the cap — the
    // "at most N tokens per domain" rule mixture recipes apply before
    // upsampling. A doc is kept iff it STARTS under the cap (the last
    // doc may overshoot — the standard greedy quota). One window
    // prefix-sum partitioned by source: partition-parallel, shuffle
    // carries (doc_id, source, n_tokens) — never text.
    "q_cap_domain_tokens" -> { (s, d) =>
      import s.implicits._
      val cap = 3000L
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source",
          size(split($"text", " ")).cast("long").as("n_tokens"))
      val w = Window.partitionBy($"source").orderBy($"doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.withColumn("cum_tokens", sum($"n_tokens").over(w))
        .filter($"cum_tokens" - $"n_tokens" < cap)
        .select($"doc_id", $"source", $"n_tokens", $"cum_tokens")
        .orderBy($"doc_id")
    },

    // ---- deterministic negative sampling (implicit-feedback training) ----
    // Recommender/contrastive training on interaction data needs, per
    // user, K items the user did NOT interact with. Candidates are a
    // pure hash function of (custkey, slot) — reproducible across runs,
    // engines, and repartitioning, like every sampler here — and
    // candidates that collide with a true positive are dropped by an
    // anti-join on the narrow (custkey, partkey) pair, so no false
    // negatives enter the training set. Positives shuffle once on the
    // pair key; the candidate side is a narrow map (no text, no
    // amplification beyond K rows per user).
    "q_sample_negatives" -> { (s, d) =>
      import s.implicits._
      val k = 4
      val positives = Tables.orders(s, d)
        .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
        .select($"o_custkey".as("custkey"), $"l_partkey".as("partkey"))
        .distinct()
      val nPart = Tables.part(s, d).agg(max($"p_partkey").as("np"))
      val cands = positives.select($"custkey").distinct()
        .crossJoin(broadcast(nPart))
        .select($"custkey", explode(sequence(lit(0), lit(k - 1))).as("slot"), $"np")
        .select($"custkey", $"slot",
          (Hashing.knuth($"custkey" * 31 + $"slot" * 7) % $"np" + 1).as("partkey"))
      cands.join(positives, Seq("custkey", "partkey"), "left_anti")
        .select($"custkey", asLong($"slot").as("slot"), $"partkey")
        .orderBy($"custkey", $"slot")
    },

    // ---- incremental-ingest dedup: new batch vs existing corpus ----
    // The production shape of dedup at 100 TB is INCREMENTAL: a new
    // ingest batch (here doc_id % 5 == 0, ~20%) is screened against the
    // standing corpus — never corpus-vs-corpus. Exact dups via a digest
    // semi-join (broadcast when the batch's digest set is small; the
    // standing corpus is the probe side either way), near-dups via the
    // same MinHash band keys as q_dedup_minhash but joined NEW x OLD
    // only — candidate volume scales with the batch, not the corpus,
    // and exact Jaccard verifies candidates only. Output: each new doc
    // tagged kept / exact / near (exact wins when both apply).
    "q_dedup_incremental" -> { (s, d) =>
      import s.implicits._
      import graft.llm.TextOps
      graft.functions.register(s)
      val sh = Tables.documents(s, d)
        .select($"doc_id", sha2($"text", 256).as("h"),
          TextOps.fastShingleHashes($"text").as("sh"))
        .cache()
      val newDocs = sh.filter($"doc_id" % 5 === 0)
      val oldDocs = sh.filter($"doc_id" % 5 =!= 0)
      val exact = newDocs
        .join(oldDocs.select($"h").distinct(), Seq("h"), "left_semi")
        .select($"doc_id")
      def bands(df: DataFrame) = df.filter(size($"sh") > 0)
        .select($"doc_id",
          call_function("minhash_signature", $"sh", lit(64)).as("sig"))
        .select($"doc_id",
          posexplode(TextOps.bandKeysFromSig($"sig")).as(Seq("band_i", "band_key")))
      val cand = bands(newDocs).select($"doc_id".as("n_id"), $"band_i", $"band_key")
        .join(bands(oldDocs).select($"doc_id".as("o_id"), $"band_i", $"band_key"),
          Seq("band_i", "band_key"))
        .select($"n_id", $"o_id").dropDuplicates("n_id", "o_id")
      val near = cand
        .join(newDocs.select($"doc_id".as("n_id"), $"sh".as("n_sh")), Seq("n_id"))
        .join(oldDocs.select($"doc_id".as("o_id"), $"sh".as("o_sh")), Seq("o_id"))
        .filter(graft.functions.VectorExprs.sortedJaccard($"n_sh", $"o_sh") >= 0.5)
        .select($"n_id".as("doc_id")).distinct()
      val out = newDocs.select($"doc_id")
        .join(exact.withColumn("ex", lit(true)), Seq("doc_id"), "left")
        .join(near.withColumn("nr", lit(true)), Seq("doc_id"), "left")
        .select($"doc_id",
          when($"ex", "exact").when($"nr", "near").otherwise("kept").as("status"))
        .orderBy($"doc_id")
        .localCheckpoint()
      sh.unpersist()
      out
    },

    // ---- multinomial Naive Bayes language classifier (train + score) ----
    // The fastText-shaped step every curation pipeline runs (CCNet,
    // RefinedWeb): TRAIN a classifier on labeled docs, SCORE the rest.
    // Train split = the repo's Knuth-hash 80% rule (q_split_train_eval);
    // the model is per-(lang, term) Laplace-smoothed log-likelihoods plus
    // log-priors, fit with two aggregations. Scoring left-joins the
    // holdout's (doc, term, tf) rows against the model and argmaxes the
    // per-lang decimal score. Cross-engine determinism: every ln lands on
    // the 6-dp grid and rides DECIMAL(28,12) (order-insensitive sums, the
    // surprisal convention); argmax ties break on lang.
    //
    // 100 TB shape: the model is O(vocab x langs) -> BROADCAST; scoring
    // is one narrow join on the token stream + a (doc, lang) partial agg
    // (langs a small constant), so corpus rows shuffle once, carrying
    // (doc_id, lang, decimal) — no text. Training shuffles (lang, term)
    // count rows with map-side combine. Nothing all-pairs, nothing on
    // the driver.
    "q_classify_nb" -> { (s, d) =>
      import s.implicits._
      val h = Hashing.knuth($"doc_id") % 100
      val docs = Tables.documents(s, d)
      val train = docs.filter(h < 80)
      val holdout = docs.filter(h >= 80)
      val counts = train
        .select($"lang", explode(split($"text", " ")).as("term"))
        .groupBy($"lang", $"term").agg(count(lit(1)).as("c"))
      val vocab = counts.select($"term").distinct()
        .agg(count(lit(1)).as("v"))
      val langTotals = counts.groupBy($"lang").agg(sum($"c").as("tot"))
      val priors = train.groupBy($"lang").agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(train.agg(count(lit(1)).as("n_train"))))
        .select($"lang",
          round(log($"n_docs") - log($"n_train"), 6)
            .cast("decimal(28,12)").as("lp"))
      val evalTf = holdout
        .select($"doc_id", $"lang".as("actual"),
          explode(split($"text", " ")).as("term"))
        .groupBy($"doc_id", $"actual", $"term").agg(count(lit(1)).as("tf"))
      val scored = evalTf
        .crossJoin(broadcast(langTotals.crossJoin(vocab)))
        .join(broadcast(counts), Seq("lang", "term"), "left")
        .withColumn("ll",
          round(log(coalesce($"c", lit(0L)) + 1) - log($"tot" + $"v"), 6)
            .cast("decimal(28,12)"))
        .groupBy($"doc_id", $"actual", $"lang")
        .agg(sum($"ll" * $"tf").as("sll"))
        .join(broadcast(priors), Seq("lang"))
        .withColumn("score", $"sll" + $"lp")
      val w = Window.partitionBy($"doc_id")
        .orderBy($"score".desc, $"lang".asc)
      scored.withColumn("rn", row_number().over(w)).filter($"rn" === 1)
        .select($"doc_id", $"lang".as("pred_lang"), $"actual",
          asLong($"lang" === $"actual").as("correct"),
          round($"score".cast("double"), 6).as("score"))
        .orderBy($"doc_id")
    }
  )

  override def oracles: Map[String, String] = Map(

    // ground truth is the SEMANTIC result (text-level anti-join): a Bloom
    // false negative would leak a blocklisted text into the survivors and
    // break the row/hash match; a mishandled false positive would drop a
    // legitimate survivor
    "q_filter_bloom" ->
      """SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        |FROM documents
        |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 11 = 0)
        |ORDER BY doc_id""".stripMargin,

    "q_sample_weighted" ->
      """WITH c AS (
        |  SELECT doc_id, n_chars,
        |    sum(n_chars) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
        |    (SELECT sum(n_chars) FROM documents) AS total
        |  FROM documents)
        |SELECT doc_id, CAST(n_chars AS BIGINT) AS weight, CAST(cum_w AS BIGINT) AS cum_w
        |FROM c
        |WHERE (cum_w * 50) // total > ((cum_w - n_chars) * 50) // total
        |ORDER BY doc_id""".stripMargin,

    "q_cap_domain_tokens" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, source, n_tokens, cum_tokens
        |FROM c
        |WHERE cum_tokens - n_tokens < 3000
        |ORDER BY doc_id""".stripMargin,

    "q_sample_negatives" ->
      """WITH pos AS (
        |  SELECT DISTINCT o_custkey AS custkey, l_partkey AS partkey
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |np AS (SELECT max(p_partkey) AS np FROM part),
        |slots AS (SELECT unnest(range(0, 4)) AS slot),
        |cands AS (
        |  SELECT custkey, slot,
        |    (((((custkey * 31 + slot * 7) % 2147483648 + 2147483648) % 2147483648)
        |       * 2654435761) % 4294967296) % np + 1 AS partkey
        |  FROM (SELECT DISTINCT custkey FROM pos), slots, np)
        |SELECT custkey, CAST(slot AS BIGINT) AS slot, partkey
        |FROM cands c
        |WHERE NOT EXISTS (SELECT 1 FROM pos p
        |                  WHERE p.custkey = c.custkey AND p.partkey = c.partkey)
        |ORDER BY custkey, slot""".stripMargin,

    // independent ground truth: exact = text equality against the old
    // partition; near = ALL-PAIRS new x old string-shingle Jaccard >= 0.5
    // (no banding — a band-recall miss on the Spark side would flip a
    // 'near' row to 'kept' and break the hash match, same contract as
    // q_dedup_minhash)
    "q_dedup_incremental" ->
      """WITH docs AS (SELECT doc_id, text, string_split(text, ' ') w FROM documents),
        |newd AS (SELECT * FROM docs WHERE doc_id % 5 = 0),
        |old AS (SELECT * FROM docs WHERE doc_id % 5 != 0),
        |sh AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        FOR i IN range(1, len(w) - 1)]) s
        |       FROM docs WHERE len(w) >= 3),
        |ex AS (SELECT DISTINCT n.doc_id FROM newd n JOIN old o ON n.text = o.text),
        |nr AS (SELECT DISTINCT a.doc_id
        |       FROM sh a JOIN newd n ON a.doc_id = n.doc_id,
        |            sh b JOIN old o ON b.doc_id = o.doc_id
        |       WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |               / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)
        |SELECT n.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
        |       WHEN nr.doc_id IS NOT NULL THEN 'near'
        |       ELSE 'kept' END AS status
        |FROM newd n
        |LEFT JOIN ex ON n.doc_id = ex.doc_id
        |LEFT JOIN nr ON n.doc_id = nr.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    // full replay: same split, same smoothing, same 6-dp ln grid over
    // DECIMAL(28,12), same lang tiebreak
    "q_classify_nb" ->
      """WITH h AS (
        |  SELECT *, (((doc_id % 2147483648 + 2147483648) % 2147483648)
        |             * 2654435761) % 4294967296 % 100 AS hh
        |  FROM documents),
        |train AS (SELECT * FROM h WHERE hh < 80),
        |holdout AS (SELECT * FROM h WHERE hh >= 80),
        |counts AS (
        |  SELECT lang, term, count(*) AS c
        |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS term FROM train)
        |  GROUP BY lang, term),
        |vocab AS (SELECT count(DISTINCT term) AS v FROM counts),
        |lang_totals AS (SELECT lang, sum(c) AS tot FROM counts GROUP BY lang),
        |priors AS (
        |  SELECT lang,
        |    CAST(round(ln(count(*)) - ln((SELECT count(*) FROM train)), 6)
        |         AS DECIMAL(28,12)) AS lp
        |  FROM train GROUP BY lang),
        |evtf AS (
        |  SELECT doc_id, actual, term, count(*) AS tf
        |  FROM (SELECT doc_id, lang AS actual,
        |               unnest(string_split(text, ' ')) AS term FROM holdout)
        |  GROUP BY doc_id, actual, term),
        |scored AS (
        |  SELECT e.doc_id, e.actual, l.lang,
        |    sum(CAST(round(ln(coalesce(c.c, 0) + 1) - ln(l.tot + v.v), 6)
        |             AS DECIMAL(28,12)) * e.tf) AS sll
        |  FROM evtf e CROSS JOIN vocab v CROSS JOIN lang_totals l
        |  LEFT JOIN counts c ON c.lang = l.lang AND c.term = e.term
        |  GROUP BY e.doc_id, e.actual, l.lang),
        |ranked AS (
        |  SELECT s.doc_id, s.actual, s.lang, s.sll + p.lp AS score,
        |    row_number() OVER (PARTITION BY s.doc_id
        |                       ORDER BY s.sll + p.lp DESC, s.lang) AS rn
        |  FROM scored s JOIN priors p ON p.lang = s.lang)
        |SELECT doc_id, lang AS pred_lang, actual,
        |  CAST(lang = actual AS BIGINT) AS correct,
        |  round(CAST(score AS DOUBLE), 6) AS score
        |FROM ranked WHERE rn = 1
        |ORDER BY doc_id""".stripMargin
  )
}
