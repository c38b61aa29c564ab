package graft.queries

import graft.{QueryPack, Tables}
import graft.llm.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data ASSEMBLY operators — the step after curation where a
  * cleaned corpus becomes model-ready input: documents packed into
  * fixed-token-budget training sequences, sliding context-window chunks,
  * repetition-based quality gates (Gopher-style), and PII redaction.
  * (The reference engine stops at per-record transforms —
  * StreamWithStates.scala:1 has no corpus-assembly stage; these extend
  * the same Spark-first design to the full pretraining pipeline.)
  *
  * Scale design notes (100 TB):
  *  - packing shuffles only (doc_id, shard, n_tokens) — 20-byte rows,
  *    never text; the text joins back to the assignment by doc_id in a
  *    later co-partitioned pass if the caller materializes sequences.
  *  - the sequential greedy scan is confined to one shard = one task;
  *    shard count is a parameter that scales with corpus size
  *    (corpus_docs / docs_per_task), so parallelism is corpus-sized,
  *    not cluster-sized.
  *  - chunking and redaction are narrow per-row maps (no shuffle at
  *    all before the gate's presentation ORDER BY).
  *  - repetition metrics use two-stage aggregation: the per-(doc,bigram)
  *    partial count happens map-side, so the shuffle carries the
  *    per-document bigram vocabulary, not the raw token stream.
  */
object AssemblyQueries extends QueryPack {

  /** Knuth multiplicative hash on doc_id — the SAME membership rule as
    * q_sample_stratified (SearchQueries.scala), replayed in DuckDB with
    * sign-safe %; total for any 64-bit id (see [[Hashing]]). */
  private def knuth(c: org.apache.spark.sql.Column) = Hashing.knuth(c)

  private val PackShards = 16
  private val PackBudget = 128 // tokens per training sequence
  private val ChunkWin = 32
  private val ChunkStride = 16
  private val BpeMerges = 8

  // NOT private: the encoder's generated deserializer instantiates it
  // from outside this object's scope (codegen CompileException otherwise)
  case class PackIn(doc_id: Long, shard: Int, nt: Long)

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- greedy sequence packing into token-budget bins ----
    // Deterministic distributed packing: docs hash into PackShards shards
    // (stable under corpus growth and engine choice), and within a shard
    // a single sequential greedy scan (ordered by doc_id) assigns bins:
    // roll to a new sequence when the fill would exceed the budget; an
    // oversized doc occupies a bin alone. flatMapSortedGroups gives the
    // per-group sorted iterator WITHOUT a per-group sort-in-memory — the
    // shuffle's sort machinery does it (secondary sort pattern).
    "q_pack_sequences" -> { (s, d) =>
      import s.implicits._
      val in = Tables.documents(s, d)
        .select($"doc_id",
          (knuth($"doc_id") % PackShards).cast("int").as("shard"),
          size(TextOps.words($"text")).cast("long").as("nt"))
        .as[PackIn]
      in.groupByKey(_.shard)
        .flatMapSortedGroups($"doc_id") { (shard: Int, docs: Iterator[PackIn]) =>
          var seq = 0L
          var fill = 0L
          docs.map { p =>
            if (fill > 0 && fill + p.nt > PackBudget) { seq += 1; fill = p.nt }
            else fill += p.nt
            (p.doc_id, shard, seq, p.nt)
          }
        }
        .toDF("doc_id", "shard", "seq_id", "n_tokens")
        .orderBy($"doc_id")
    },

    // ---- sliding context-window chunking (window 32, stride 16) ----
    // The RAG/pretraining "one doc -> many overlapping windows" op as a
    // pure narrow map: per row, generate chunk starts with sequence()
    // and posexplode — no shuffle, no UDF, all codegen'd built-ins.
    "q_chunk_sliding" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", TextOps.words($"text").as("toks"))
        .select($"doc_id", $"toks",
          posexplode(sequence(lit(1), size($"toks"), lit(ChunkStride))))
        .select(
          $"doc_id",
          $"pos".cast("long").as("chunk_idx"),
          $"col".cast("long").as("start_tok"),
          size(slice($"toks", $"col", lit(ChunkWin))).cast("long").as("n_tok"),
          array_join(slice($"toks", $"col", lit(ChunkWin)), " ").as("chunk_text"))
        .orderBy($"doc_id", $"start_tok")
    },

    // ---- Gopher-style repetition metrics + gate ----
    // top_bigram_frac: occurrences of the most frequent bigram over all
    // bigram slots; dup_bigram_frac: fraction of slots occupied by a
    // repeated bigram. Both are exact integer ratios (deterministic as
    // doubles across engines). keep mirrors Gopher's repetition cut.
    "q_text_repetition" -> { (s, d) =>
      import s.implicits._
      val bigrams = Tables.documents(s, d)
        .select($"doc_id", TextOps.words($"text").as("toks"))
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
          .as("bigram"))
      bigrams
        .groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id").agg(
          max($"c").as("top_c"),
          sum($"c").as("n_bg"),
          count(lit(1)).as("n_distinct_bg"))
        .select(
          $"doc_id",
          ($"top_c".cast("double") / $"n_bg").as("top_bigram_frac"),
          (($"n_bg" - $"n_distinct_bg").cast("double") / $"n_bg").as("dup_bigram_frac"),
          ($"top_c".cast("double") / $"n_bg" <= 0.18).as("keep"))
        .orderBy($"doc_id")
    },

    // ---- BPE tokenizer training (iterative pair merge) ----
    // The missing half of the tokenizer story: counting is elsewhere
    // (q_text_stats/heavy_hitters); this TRAINS the merge table. The
    // only corpus-scale stage is the initial word-count aggregation —
    // exactly how production BPE trainers scale (corpus -> counts once,
    // then iterate on the vocab-sized counts table). Each of the 8
    // rounds: adjacent-pair counts weighted by word freq (two-stage
    // agg), a global argmax (cnt desc, pair asc — deterministic), and a
    // left-to-right non-overlapping merge applied as ONE fold per word
    // ("aaa" + (a,a) -> [aa, a], the classic semantics). try_element_at
    // keeps the fold ANSI-safe on the empty accumulator (NULL -> no
    // merge), bit-matching DuckDB's acc[-1] NULL. Output = the merge
    // table, the artifact a tokenizer ships.
    "q_bpe_train" -> { (s, d) =>
      import s.implicits._
      val (merges, _) = bpeState(s, d)
      merges.reduce(_ unionByName _).orderBy($"step")
    },

    // ---- BPE encoding (apply the trained merge table to the corpus) ----
    // The trainer's final word->symbols state IS the encoding of every
    // corpus word after all merges — the per-word fold the trainer runs
    // is exactly the left-to-right merge application an encoder performs
    // rank by rank. So encode = explode the corpus token stream, join
    // each word to the BROADCAST vocab-sized tokenization table (the
    // "word cache" production fast-tokenizers keep), and reassemble the
    // per-doc token stream in word order. The corpus-scale stages are a
    // narrow explode and a broadcast join — no corpus shuffle beyond the
    // per-doc reassembly groupBy, which carries token ids, not text.
    "q_bpe_encode" -> { (s, d) =>
      import s.implicits._
      val (_, words) = bpeState(s, d)
      Tables.documents(s, d)
        .select($"doc_id", posexplode(TextOps.words($"text")))
        .withColumnRenamed("col", "term")
        .join(broadcast(words.select($"term", $"syms")), "term")
        .groupBy($"doc_id")
        .agg(
          asLong(count(lit(1))).as("n_words"),
          asLong(sum(size($"syms"))).as("n_tok"),
          array_join(flatten(transform(
            array_sort(collect_list(struct($"pos", $"syms"))),
            x => x.getField("syms"))), " ").as("bpe_text"))
        .orderBy($"doc_id")
    },

    // ---- domain-mixture epoch construction (DoReMi-style reweighting) ----
    // The step between curation and packing: apply per-domain mixture
    // weights by MATERIALIZING each document's repeat count for one
    // training pass — whole copies plus one fractional copy decided by
    // the same Knuth-hash membership rule as q_sample_stratified (so a
    // weight of 2.5 means 2 copies always, 3 for the hash-selected half
    // of the stratum — deterministic across runs/engines/corpus growth).
    // Each copy gets an epoch index and a hash shuffle position `ord`:
    // sorting by ord IS the training-order shuffle, spread uniformly so
    // no window of the stream over-represents a domain. Narrow map +
    // explode; nothing shuffles until a consumer sorts by ord.
    "q_mix_epochs" -> { (s, d) =>
      import s.implicits._
      val whole = typedLit(Map(
        "en" -> 2L, "de" -> 1L, "es" -> 0L, "fr" -> 1L, "zh" -> 0L))
      val fracPm = typedLit(Map(
        "en" -> 500L, "de" -> 0L, "es" -> 500L, "fr" -> 500L, "zh" -> 250L))
      Tables.documents(s, d)
        .select($"doc_id", $"lang")
        .withColumn("copies",
          whole($"lang") + when(knuth($"doc_id") % 1000 < fracPm($"lang"), 1L)
            .otherwise(0L))
        .filter($"copies" >= 1)
        .select($"doc_id", $"lang",
          explode(sequence(lit(1L), $"copies")).as("epoch"))
        .select($"doc_id", $"lang", $"epoch",
          knuth($"doc_id" + $"epoch" * lit(1000003L)).as("ord"))
        .orderBy($"doc_id", $"epoch")
    },

    // ---- unigram-surprisal quality score (perplexity proxy) ----
    // The KenLM-style curation signal with the LM reduced to corpus
    // unigrams: mean -ln P(token) over the doc's token stream. Two-stage
    // agg builds the vocab (shuffle carries |vocab| rows); scoring joins
    // tf rows to a BROADCAST vocab — web-scale unigram vocabs prune to
    // ~1e7 entries (sub-GB), past that the join falls back to shuffle on
    // term. Determinism: per-term surprisal rounds to SIX dp (coarse on
    // purpose — the boundary-hit window for a cross-libm ln ulp shrinks
    // ~1e4x vs 10 dp; a 10-dp boundary hit flipped one sf0.1 row's mean
    // across its own 4-dp output boundary) then sums as DECIMAL (exact,
    // merge-order-insensitive); the final mean divides two
    // exactly-representable values, so it is IEEE-identical both
    // engines before its 4-dp round.
    "q_text_surprisal" -> { (s, d) =>
      import s.implicits._
      // NOT checkpointed (r18, measured): materializing the
      // corpus-linear (doc, term, tf) frame is steady-neutral at best
      // (OPTIMIZATION_r18.md, `textagg`: none 0.85–1.16 s vs cpTf 0.84–1.08 s, same
      // JVM) — the block write costs what the recompute saves; contrast
      // q_text_pmi/q_text_entropy, whose VOCAB-SIZED aggregates
      // checkpoint for a measured win.
      val tf = Tables.documents(s, d)
        .select($"doc_id", explode(TextOps.words($"text")).as("term"))
        .groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val vocab = tf.groupBy($"term").agg(sum($"tf").as("ctf"))
      val total = vocab.agg(sum($"ctf").as("n_total"))
      tf.join(broadcast(vocab), "term")
        .crossJoin(broadcast(total))
        .withColumn("surp",
          round(log($"n_total") - log($"ctf"), 6).cast("decimal(28,12)"))
        .groupBy($"doc_id")
        .agg(
          round(sum($"surp" * $"tf").cast("double") /
            sum($"tf").cast("double"), 4).as("mean_surprisal"),
          asLong(sum($"tf")).as("n_tok"))
        .orderBy($"doc_id")
    },

    // ---- bigram-LM surprisal (the next-order perplexity proxy) ----
    // The same KenLM-style curation signal as q_text_surprisal with the
    // LM upgraded to add-one-smoothed corpus bigrams: per doc, the mean
    // of -ln P(b|a) = ln(c1(a)+V) - ln(c2(a,b)+1) over its bigram
    // stream. Bigrams form as a per-row array transform over the split
    // token array (the q_text_repetition shape; r17 — the previous
    // lead() window shuffled AND sorted the whole corpus token stream
    // by doc_id just to pair adjacent tokens, guide §2.4: remove
    // shuffles outright); counts are two-stage aggs whose shuffles
    // carry bigram-vocab rows, not the token stream. The model table
    // broadcasts (31-term synthetic vocab -> <=961 bigrams; a web-scale
    // bigram LM prunes/quantizes to fit or falls back to a shuffle join
    // on the pair key). Determinism: the surprisal-query recipe — each
    // ln rounds to 6 dp, terms sum in exact DECIMAL, the final mean
    // divides exactly-representable values.
    "q_text_bigram_lm" -> { (s, d) =>
      import s.implicits._
      val toksArr = Tables.documents(s, d)
        .select($"doc_id", split($"text", " ").as("toks"))
      val bg = toksArr
        .filter(size($"toks") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i-1] AS a, toks[i] AS b))")).as("p"))
        .select($"doc_id", $"p.a".as("a"), $"p.b".as("b"))
      // NOT checkpointed (r18, measured): materializing the
      // corpus-linear bgTf (or vocab-sized uni here) was neutral to
      // slightly NEGATIVE in the same-JVM A/B (OPTIMIZATION_r18.md, `textagg`:
      // none 1.06–1.35 s vs cpBgTf 1.12–1.37 s vs cpBoth 1.17–1.33 s) —
      // kept as-is; see q_text_pmi for the shape where the checkpoint
      // does pay.
      val bgTf = bg.groupBy($"doc_id", $"a", $"b").agg(count(lit(1)).as("tf"))
      val c2 = bgTf.groupBy($"a", $"b").agg(sum($"tf").as("c2"))
      val uni = toksArr.select(explode($"toks").as("w"))
        .groupBy($"w").agg(count(lit(1)).as("c1"))
        .withColumnRenamed("w", "a")
      val v = uni.agg(count(lit(1)).as("vsz"))
      bgTf.join(broadcast(c2), Seq("a", "b")).join(broadcast(uni), Seq("a"))
        .crossJoin(broadcast(v))
        .withColumn("surp",
          round(log($"c1" + $"vsz") - log($"c2" + lit(1L)), 6)
            .cast("decimal(28,12)"))
        .groupBy($"doc_id")
        .agg(
          round(sum($"surp" * $"tf").cast("double") /
            sum($"tf").cast("double"), 4).as("mean_bigram_surprisal"),
          asLong(sum($"tf")).as("n_bigrams"))
        .orderBy($"doc_id")
    },

    // ---- PMI collocation mining (top word associations) ----
    // Pointwise mutual information over the corpus bigram table: the
    // classic collocation detector (Church & Hanks 1990) and the
    // association signal behind phrase mining / tokenizer seeding.
    // PMI(a,b) = ln(p(a,b) / (p(a)p(b))) with marginals from the bigram
    // table itself (left/right token counts). Bigrams form shuffle-free
    // as a per-row array transform (r17, the q_text_bigram_lm rewrite —
    // the lead() window it replaces shuffled + sorted the token
    // stream). Shuffles carry bigram-vocab
    // rows only; marginals broadcast back onto the pair table. A
    // min-count gate (c2 >= 5) drops the rare-pair noise PMI is known
    // for. DETERMINISM: pairs are RANKED by the raw double ratio
    // (c2*N)/(ca*cb) — one division of exact integers, IEEE-identical
    // per engine (no ln in the sort key); the reported pmi value is the
    // single ln of that ratio on the 6-dp grid.
    "q_text_pmi" -> { (s, d) =>
      import s.implicits._
      val bg = Tables.documents(s, d)
        .select(split($"text", " ").as("toks"))
        .filter(size($"toks") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 1), " +
            "i -> struct(toks[i-1] AS a, toks[i] AS b))")).as("p"))
        .select($"p.a".as("a"), $"p.b".as("b"))
      // EAGER checkpoint (r18): c2 (bigram vocab — bounded, never
      // corpus-sized) feeds the ca/cb/n BROADCAST builds AND the main
      // filter: four consumers, each previously re-running the bigram
      // formation + count over the corpus. One materialization —
      // measured cold 7.8 s -> 1.3 s, steady 0.80 -> 0.67 s
      // (OPTIMIZATION_r18.md, `textagg`), results identical.
      val c2 = bg.groupBy($"a", $"b").agg(count(lit(1)).as("c2"))
        .localCheckpoint()
      val ca = c2.groupBy($"a").agg(sum($"c2").as("ca"))
      val cb = c2.groupBy($"b").agg(sum($"c2").as("cb"))
      val n = c2.agg(sum($"c2").as("nbg"))
      c2.filter($"c2" >= 5)
        .join(broadcast(ca), Seq("a")).join(broadcast(cb), Seq("b"))
        .crossJoin(broadcast(n))
        .withColumn("ratio",
          ($"c2" * $"nbg").cast("double") / ($"ca" * $"cb").cast("double"))
        // top-20 via TakeOrderedAndProject FIRST; the single-partition
        // rank window then runs over 20 rows, not the pair table
        .orderBy($"ratio".desc, $"a", $"b").limit(20)
        .withColumn("rk", row_number().over(
          Window.orderBy($"ratio".desc, $"a", $"b")))
        .select(asLong($"rk").as("rk"), $"a", $"b", asLong($"c2").as("c2"),
          round(log($"ratio"), 6).as("pmi"))
        .orderBy($"rk")
    },

    // ---- DSIR-style hashed n-gram importance selection ----
    // Data Selection with Importance Resampling (Xie et al. 2023): score
    // every raw document by the log-likelihood ratio of a TARGET
    // distribution vs the RAW distribution under a bag-of-hashed-ngrams
    // model. Features are the unigram + bigram polynomial hashes (the
    // same replayable WordHashes/SpanHashes family as the dedup ops)
    // folded into 1024 buckets; the target here is the English slice of
    // the corpus (a production run points it at a quality reference like
    // Wikipedia). Per-bucket log-ratio weights round to 10 dp and ride a
    // 1024-row BROADCAST onto the per-doc bucket counts, so scoring is
    // one narrow pass: the corpus-scale shuffles carry (doc_id, bucket)
    // and (bucket) count rows only, with map-side partial aggregation —
    // text never enters an exchange. Smoothing (+1 per bucket) keeps
    // zero-count buckets finite; the per-doc sum is DECIMAL-exact
    // (merge-order-insensitive), the surprisal-query precedent.
    "q_select_dsir" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      val NB = 1024
      val feats = Tables.documents(s, d)
        .withColumn("wh", call_function("word_hashes", $"text"))
        .select($"doc_id", $"lang",
          explode(concat($"wh",
            call_function("span_hashes", $"wh", lit(2)))).as("f"))
        .select($"doc_id", $"lang", pmod($"f", lit(NB.toLong)).as("bucket"))
      val docBucket = feats.groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("cnt"))
      val rawB = feats.groupBy($"bucket").agg(count(lit(1)).as("r"))
      val tgtB = feats.filter($"lang" === "en")
        .groupBy($"bucket").agg(count(lit(1)).as("t"))
      val tbl = s.range(NB).select($"id".as("bucket"))
        .join(rawB, Seq("bucket"), "left")
        .join(tgtB, Seq("bucket"), "left")
        .select($"bucket", coalesce($"r", lit(0L)).as("r"),
          coalesce($"t", lit(0L)).as("t"))
      val totals = tbl.agg(sum($"r").as("r_total"), sum($"t").as("t_total"))
      // each ln rounds to 6 dp SEPARATELY, then the four terms combine in
      // exact DECIMAL arithmetic: a four-ln double sum at a 1e-10 grain
      // straddled the rounding boundary across libm implementations
      // (caught by the gate: one bucket differed by exactly 1e-10 and a
      // doc sum sat exactly on the 5e-5 output grain); per-term 6-dp
      // rounding puts ~1e-9 of slack per boundary instead of ~4e-15
      def lnDec(c: org.apache.spark.sql.Column) =
        round(log(c.cast("double")), 6).cast("decimal(28,12)")
      val lam = tbl.crossJoin(broadcast(totals))
        .select($"bucket",
          (lnDec($"t" + 1) - lnDec($"t_total" + NB)
            - lnDec($"r" + 1) + lnDec($"r_total" + NB)).as("lw"))
      // round the DECIMAL sum (exact half-up on both engines), not the
      // double: a doc sum landing exactly on a .00005 grain would
      // otherwise round differently (Spark goes through BigDecimal's
      // shortest-repr of the double, DuckDB rounds the raw double)
      docBucket.join(broadcast(lam), "bucket")
        .groupBy($"doc_id")
        .agg(round(sum($"lw" * $"cnt"), 4).cast("double").as("dsir_score"),
          asLong(sum($"cnt")).as("n_feats"),
          (sum($"lw" * $"cnt") > 0).as("keep"))
        .orderBy($"doc_id")
    },

    // ---- PII redaction (planted fixtures) ----
    // The synthetic corpus carries no PII, so the fixture is planted
    // deterministically from doc_id (email + IPv4), then redacted with
    // engine-portable regexes (no \d, no backreferences — identical
    // semantics in Java regex and RE2). Email first: after <EMAIL>, the
    // remaining dotted digits are exactly the planted IP.
    "q_text_redact" -> { (s, d) =>
      import s.implicits._
      val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ipPat = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
      Tables.documents(s, d)
        .select($"doc_id", concat($"text",
          lit(" contact u"), $"doc_id".cast("string"),
          lit("@example.com from 10."), ($"doc_id" % 256).cast("string"),
          lit(".0."), ($"doc_id" % 100).cast("string"), lit(" end")).as("text"))
        .select(
          $"doc_id",
          size(regexp_extract_all($"text", lit(emailPat), lit(0)))
            .cast("long").as("n_emails"),
          size(regexp_extract_all($"text", lit(ipPat), lit(0)))
            .cast("long").as("n_ips"),
          regexp_replace(regexp_replace($"text", emailPat, "<EMAIL>"),
            ipPat, "<IP>").as("redacted"))
        .orderBy($"doc_id")
    }
  )

  /** Shared BPE training state: per-step merge-table rows plus the final
    * word -> symbols table (`term` is carried through every fold so the
    * encoder can join the corpus back to it). Spark split() passes
    * limit -1 to Java's split, KEEPING the trailing empty string the
    * empty pattern produces at end-of-string, while DuckDB
    * string_split(s, '') yields bare chars — hence the explicit empty
    * filter. try_element_at keeps the fold ANSI-safe on the empty
    * accumulator (NULL -> no merge), bit-matching DuckDB's acc[-1]. */
  private def bpeState(s: SparkSession, d: String): (Seq[DataFrame], DataFrame) = {
    import s.implicits._
    val wc = Tables.documents(s, d)
      .select(explode(TextOps.words($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("freq"))
    var syms = wc
      .select($"term", $"freq",
        expr("filter(split(term, ''), x -> x != '')").as("syms"))
      // lazy checkpoints (r17): the 8 merge rounds are a fixed loop with
      // no driver decision between them — every frame's consumers run
      // under the caller's one action; eager cost ~16 scheduled jobs
      .localCheckpoint(eager = false)
    val merges = Seq.newBuilder[DataFrame]
    for (step <- 1 to BpeMerges) {
      val pairs = syms
        .filter(size($"syms") >= 2)
        .select($"freq", explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(syms[i-1] AS l, syms[i] AS r))")).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r"))
        .agg(sum($"freq").as("cnt"))
      val best = pairs.orderBy($"cnt".desc, $"l", $"r").limit(1)
        .localCheckpoint(eager = false) // feeds the merge fold AND the output row
      merges += best.select(lit(step).cast("long").as("step"),
        $"l", $"r", concat($"l", $"r").as("merged"), asLong($"cnt").as("cnt"))
      syms = syms.crossJoin(broadcast(best.select($"l", $"r")))
        .select($"term", $"freq",
          aggregate($"syms", typedLit(Seq.empty[String]), (acc, sv) =>
            when(try_element_at(acc, lit(-1)) === $"l" && sv === $"r",
              concat(slice(acc, lit(1), size(acc) - 1),
                array(concat($"l", $"r"))))
              .otherwise(concat(acc, array(sv)))).as("syms"))
        .localCheckpoint(eager = false)
    }
    (merges.result(), syms)
  }

  /** Generated BPE oracle CTEs: 8 chained (pair-count, argmax,
    * merge-fold) rounds, `term` carried through. DuckDB's list_reduce
    * seeds with the first element where Spark's aggregate seeds with the
    * empty array — after Spark's first step both hold [s1], and
    * `acc[-1]` on the seed mirrors Spark's try_element_at NULL (no
    * merge), so the folds agree exactly. */
  private def bpeOracleCtes: String = {
    val steps = (1 to BpeMerges).map { t =>
      s"""p$t AS (
         |  SELECT l, r, sum(freq) AS cnt FROM (
         |    SELECT syms[i] AS l, syms[i + 1] AS r, freq
         |    FROM s${t - 1}, unnest(generate_series(1, len(syms) - 1)) AS u(i)
         |    WHERE len(syms) >= 2) q
         |  GROUP BY l, r),
         |best$t AS (SELECT l, r, cnt FROM p$t ORDER BY cnt DESC, l, r LIMIT 1),
         |s$t AS (
         |  SELECT term, freq, list_reduce(list_transform(syms, x -> [x]),
         |    (acc, sl) -> CASE WHEN acc[-1] = b.l AND sl[1] = b.r
         |                      THEN list_append(acc[1:len(acc)-1], b.l || b.r)
         |                      ELSE list_append(acc, sl[1]) END) AS syms
         |  FROM s${t - 1} CROSS JOIN best$t b)""".stripMargin
    }.mkString(",\n")
    s"""wc AS (
       |  SELECT term, count(*) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
       |  GROUP BY term),
       |s0 AS (SELECT term, freq, string_split(term, '') AS syms FROM wc),
       |$steps""".stripMargin
  }

  private def bpeTrainOracleSql: String = {
    val out = (1 to BpeMerges).map(t =>
      s"SELECT CAST($t AS BIGINT) AS step, l, r, l || r AS merged, " +
        s"CAST(cnt AS BIGINT) AS cnt FROM best$t")
      .mkString("\nUNION ALL\n")
    s"WITH $bpeOracleCtes\n$out\nORDER BY step"
  }

  /** Encode oracle: zip-unnest the corpus token stream with positions,
    * join the final word->syms table, reassemble per doc.
    * flatten(list(... ORDER BY pos)) mirrors Spark's
    * array_join(flatten(transform(array_sort(...)))) exactly, including
    * the contributes-nothing behavior of an empty symbol list. */
  private def bpeEncodeOracleSql: String =
    s"""WITH $bpeOracleCtes,
       |dw AS (
       |  SELECT doc_id,
       |    unnest(string_split(text, ' ')) AS term,
       |    unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
       |  FROM documents)
       |SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(len(syms)) AS BIGINT) AS n_tok,
       |  array_to_string(flatten(list(syms ORDER BY pos)), ' ') AS bpe_text
       |FROM dw JOIN s$BpeMerges USING (term)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  override def oracles: Map[String, String] = Map(
    "q_mix_epochs" ->
      """WITH b AS (
        |  SELECT doc_id, lang,
        |    (CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 1 WHEN 'es' THEN 0
        |               WHEN 'fr' THEN 1 ELSE 0 END)
        |    + (CASE WHEN (((doc_id % 2147483648 + 2147483648) % 2147483648)
        |              * 2654435761) % 4294967296 % 1000
        |            < (CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 0
        |                         WHEN 'es' THEN 500 WHEN 'fr' THEN 500
        |                         ELSE 250 END)
        |       THEN 1 ELSE 0 END) AS copies
        |  FROM documents)
        |SELECT doc_id, lang, CAST(ep AS BIGINT) AS epoch,
        |  ((((doc_id + ep * 1000003) % 2147483648 + 2147483648) % 2147483648)
        |    * 2654435761) % 4294967296 AS ord
        |FROM b, unnest(generate_series(1, copies)) AS u(ep)
        |WHERE copies >= 1
        |ORDER BY doc_id, epoch""".stripMargin,

    "q_bpe_train" -> bpeTrainOracleSql,
    "q_bpe_encode" -> bpeEncodeOracleSql,
    // Greedy packing replayed exactly with a recursive CTE: the working
    // table carries (seq_id, fill) forward one row per iteration per
    // shard — DuckDB's recursion is the ground-truth sequential scan.
    "q_pack_sequences" ->
      s"""WITH RECURSIVE ord AS (
         |  SELECT doc_id,
         |    CAST((((doc_id % 2147483648 + 2147483648) % 2147483648)
         |          * 2654435761) % 4294967296 % $PackShards AS INTEGER) AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
         |    row_number() OVER (
         |      PARTITION BY (((doc_id % 2147483648 + 2147483648) % 2147483648)
         |                    * 2654435761) % 4294967296 % $PackShards
         |      ORDER BY doc_id) AS rn
         |  FROM documents),
         |packed AS (
         |  SELECT shard, rn, doc_id, nt, CAST(0 AS BIGINT) AS seq_id, nt AS fill
         |  FROM ord WHERE rn = 1
         |  UNION ALL
         |  SELECT t.shard, t.rn, t.doc_id, t.nt,
         |    CASE WHEN p.fill + t.nt > $PackBudget THEN p.seq_id + 1 ELSE p.seq_id END,
         |    CASE WHEN p.fill + t.nt > $PackBudget THEN t.nt ELSE p.fill + t.nt END
         |  FROM packed p JOIN ord t ON t.shard = p.shard AND t.rn = p.rn + 1)
         |SELECT doc_id, shard, seq_id, nt AS n_tokens
         |FROM packed ORDER BY doc_id""".stripMargin,

    // DuckDB list indexing is 1-based (Spark's is 0-based) — the lambda
    // bodies differ by exactly that offset.
    "q_chunk_sliding" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
         |SELECT doc_id,
         |  CAST((s - 1) // $ChunkStride AS BIGINT) AS chunk_idx,
         |  CAST(s AS BIGINT) AS start_tok,
         |  CAST(len(list_slice(toks, s, s + ${ChunkWin - 1})) AS BIGINT) AS n_tok,
         |  array_to_string(list_slice(toks, s, s + ${ChunkWin - 1}), ' ') AS chunk_text
         |FROM (SELECT doc_id, toks,
         |        unnest(generate_series(1, len(toks), $ChunkStride)) AS s
         |      FROM t)
         |ORDER BY doc_id, start_tok""".stripMargin,

    "q_text_repetition" ->
      """WITH bg AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(string_split(text, ' ')) - 1),
        |    i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]))
        |    AS bigram
        |  FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |cnt AS (SELECT doc_id, bigram, count(*) AS c FROM bg GROUP BY 1, 2),
        |agg AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_bg,
        |               count(*) AS n_distinct_bg
        |        FROM cnt GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(top_c AS DOUBLE) / n_bg AS top_bigram_frac,
        |  CAST(n_bg - n_distinct_bg AS DOUBLE) / n_bg AS dup_bigram_frac,
        |  CAST(top_c AS DOUBLE) / n_bg <= 0.18 AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_text_surprisal" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |        FROM documents)
        |  GROUP BY doc_id, term),
        |vocab AS (SELECT term, sum(tf) AS ctf FROM tf GROUP BY term),
        |total AS (SELECT sum(ctf) AS n_total FROM vocab)
        |SELECT doc_id,
        |  round(CAST(sum(CAST(round(ln(n_total) - ln(ctf), 6)
        |                      AS DECIMAL(28,12)) * tf) AS DOUBLE)
        |        / CAST(sum(tf) AS DOUBLE), 4) AS mean_surprisal,
        |  CAST(sum(tf) AS BIGINT) AS n_tok
        |FROM tf JOIN vocab USING (term) CROSS JOIN total
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // ranked by the exact-integer double ratio (no ln in the sort key);
    // the pmi output is one ln on the 6-dp grid
    "q_text_pmi" ->
      """WITH bgl AS (
        |  SELECT doc_id,
        |    unnest([{'a': ws[i], 'b': ws[i+1]} FOR i IN range(1, len(ws))]) AS p
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |c2 AS (SELECT p.a AS a, p.b AS b, count(*) AS c2 FROM bgl GROUP BY 1, 2),
        |ca AS (SELECT a, sum(c2) AS ca FROM c2 GROUP BY 1),
        |cb AS (SELECT b, sum(c2) AS cb FROM c2 GROUP BY 1),
        |n AS (SELECT sum(c2) AS nbg FROM c2),
        |scored AS (
        |  SELECT a, b, c2,
        |         CAST(c2 * nbg AS DOUBLE) / CAST(ca * cb AS DOUBLE) AS ratio
        |  FROM c2 JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN n
        |  WHERE c2 >= 5)
        |SELECT CAST(row_number() OVER (ORDER BY ratio DESC, a, b) AS BIGINT) AS rk,
        |       a, b, CAST(c2 AS BIGINT) AS c2, round(ln(ratio), 6) AS pmi
        |FROM scored
        |ORDER BY ratio DESC, a, b LIMIT 20""".stripMargin,

    // bigrams rebuilt positionally via a list comprehension; same
    // 6-dp-ln-into-DECIMAL recipe as q_text_surprisal
    "q_text_bigram_lm" ->
      """WITH bgl AS (
        |  SELECT doc_id,
        |    unnest([{'a': ws[i], 'b': ws[i+1]} FOR i IN range(1, len(ws))]) AS p
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
        |bgtf AS (SELECT doc_id, p.a AS a, p.b AS b, count(*) AS tf
        |         FROM bgl GROUP BY 1, 2, 3),
        |c2 AS (SELECT a, b, sum(tf) AS c2 FROM bgtf GROUP BY 1, 2),
        |uni AS (SELECT w AS a, count(*) AS c1
        |        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |        GROUP BY 1),
        |v AS (SELECT count(*) AS vsz FROM uni)
        |SELECT doc_id,
        |  round(CAST(sum(CAST(round(ln(c1 + vsz) - ln(c2 + 1), 6)
        |                      AS DECIMAL(28,12)) * tf) AS DOUBLE)
        |        / CAST(sum(tf) AS DOUBLE), 4) AS mean_bigram_surprisal,
        |  CAST(sum(tf) AS BIGINT) AS n_bigrams
        |FROM bgtf JOIN c2 USING (a, b) JOIN uni USING (a) CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // word hashes replayed as in the dedup oracles; bigram hash = one
    // more polynomial step; bucket = hash % 1024 on the UNSIGNED value
    // (1024 divides 2^64, so Spark's pmod on the signed long lands on
    // the same residue). The four-ln weight rounds to 10 dp before the
    // DECIMAL doc sum — identical expression tree on both engines.
    "q_select_dsir" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |wh AS (SELECT doc_id, lang,
        |        [CASE WHEN len(t) = 0 THEN 0::HUGEINT
        |              ELSE list_reduce(list_transform(string_split(t, ''), c -> CAST(unicode(c) AS HUGEINT)),
        |                               (a, b) -> (a * 1000003 + b) % 18446744073709551616::HUGEINT)
        |         END FOR t IN ws] AS hs
        |       FROM w),
        |feats AS (
        |  SELECT doc_id, lang, CAST(f % 1024 AS BIGINT) AS bucket
        |  FROM (SELECT doc_id, lang,
        |          unnest(hs || [ (hs[i] * 1000003 + hs[i+1]) % 18446744073709551616::HUGEINT
        |                         FOR i IN range(1, len(hs)) ]) AS f
        |        FROM wh)),
        |db AS (SELECT doc_id, bucket, count(*) AS cnt FROM feats GROUP BY 1, 2),
        |tbl AS (
        |  SELECT b.bucket, coalesce(r.r, 0) AS r, coalesce(t.t, 0) AS t
        |  FROM (SELECT range AS bucket FROM range(0, 1024)) b
        |  LEFT JOIN (SELECT bucket, count(*) AS r FROM feats GROUP BY 1) r USING (bucket)
        |  LEFT JOIN (SELECT bucket, count(*) AS t FROM feats WHERE lang = 'en' GROUP BY 1) t USING (bucket)),
        |totals AS (SELECT sum(r) AS r_total, sum(t) AS t_total FROM tbl),
        |lam AS (SELECT bucket,
        |          CAST(round(ln(CAST(t + 1 AS DOUBLE)), 6) AS DECIMAL(28,12))
        |          - CAST(round(ln(CAST(t_total + 1024 AS DOUBLE)), 6) AS DECIMAL(28,12))
        |          - CAST(round(ln(CAST(r + 1 AS DOUBLE)), 6) AS DECIMAL(28,12))
        |          + CAST(round(ln(CAST(r_total + 1024 AS DOUBLE)), 6) AS DECIMAL(28,12)) AS lw
        |        FROM tbl CROSS JOIN totals)
        |SELECT doc_id,
        |  CAST(round(sum(lw * cnt), 4) AS DOUBLE) AS dsir_score,
        |  CAST(sum(cnt) AS BIGINT) AS n_feats,
        |  sum(lw * cnt) > 0 AS keep
        |FROM db JOIN lam USING (bucket)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_redact" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    text || ' contact u' || CAST(doc_id AS VARCHAR)
        |      || '@example.com from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.0.' || CAST(doc_id % 100 AS VARCHAR) || ' end' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text,
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS redacted
        |FROM planted ORDER BY doc_id""".stripMargin
  )
}
