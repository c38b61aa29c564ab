package graft.queries

import graft.{QueryPack, Tables}
import graft.llm.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data text pipeline queries over `documents`: exact dedup,
  * MinHash+LSH fuzzy dedup, SimHash near-dup, blocked exact n-gram
  * Jaccard, token statistics, quality scoring, language ID, and
  * rolling-hash fingerprinting.
  *
  * Scale design: every dedup variant avoids the all-pairs cross join —
  * exact dedup is a hash groupBy on a content digest; MinHash candidates
  * come from an equi self-join on LSH band keys (shuffle on band key,
  * bucket sizes ~ collision counts); SimHash candidates come from an
  * equi join on 16-bit signature blocks (lossless for hamming <= 3 by
  * pigeonhole). The DuckDB oracles DO use all-pairs — affordable at
  * sf0.01 — which makes them an independent ground truth for the LSH
  * path's recall, not a restatement of the implementation.
  */
object LlmTextQueries extends QueryPack {

  /** PROVENANCE fixture: documents ingested into a row-tracking ACID
    * table in three doc_id%3 batches (v1-v3), then compacted (v4) and
    * z-ordered (v5) — full layout churn with ids carried verbatim. The
    * q_pipeline_provenance gate attributes curation survivors back to
    * their ingest batch through `_row_id` alone. */
  private val provFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def provenanceTable(s: SparkSession,
                              d: String): graft.acid.GraftTable = {
    val root = provFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val r = s"${tempFixtureDir("graft_prov")}/docs"
      val t = new graft.acid.GraftTable(s, r, statsCol = Some("doc_id"),
        rowTracking = true)
      val docs = Tables.documents(s, d).select($"doc_id", $"source", $"text")
      (0L to 2L).foreach(b =>
        t.append(docs.filter(pmod($"doc_id", lit(3L)) === b)))     // v1-v3
      t.compact(targetFiles = 4)                                   // v4
      t.compactZOrderN(Seq("doc_id", "source"), targetFiles = 4)   // v5
      r
    })
    graft.acid.GraftTable.load(s, root)
  }

  /** PROVENANCE × INGEST-DEDUP fixture (round 16, r15 directive #7 —
    * the full crawl-landing story): three OVERLAPPING deliveries (batch
    * b re-delivers every prior batch's docs) drain through the
    * streaming sink with `dedupKey=doc_id` AND `rowTracking=true`, so
    * commit v lands exactly the doc_id%3==v-1 slice with freshly-minted
    * lineage ids — appendUnique's anti-join survivors mint above the
    * carried watermark. Then the same compact + z-order layout churn as
    * [[provenanceTable]]. The gate attributes curation survivors back
    * through `_row_id` alone; a duplicate landing twice or an id
    * re-minted across the churn breaks the per-batch counts. */
  private val provDedupFixtures =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def provenanceDedupTable(s: SparkSession,
                                   d: String): graft.acid.GraftTable = {
    val root = provDedupFixtures.computeIfAbsent(d, { _ =>
      import s.implicits._
      val dir = tempFixtureDir("graft_provdedup")
      val srcRoot = s"$dir/src"
      val dstRoot = s"$dir/docs"
      val src = new graft.acid.GraftTable(s, srcRoot)
      val docs = Tables.documents(s, d).select($"doc_id", $"source", $"text")
      (0L to 2L).foreach(b =>
        src.append(docs.filter(pmod($"doc_id", lit(3L)) <= b)))   // overlap!
      val q = s.readStream.format("graft-table")
        .option("path", srcRoot)
        .option("maxVersionsPerBatch", "1")
        .load()
        .select($"doc_id", $"source", $"text")
        .writeStream.format("graft-table")
        .option("path", dstRoot)
        .option("checkpointLocation", s"$dir/ckpt")
        .option("dedupKey", "doc_id")
        .option("statsCol", "doc_id")
        .option("rowTracking", "true")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val t = graft.acid.GraftTable.load(s, dstRoot)
      t.compact(targetFiles = 4)                                   // v4
      t.compactZOrderN(Seq("doc_id", "source"), targetFiles = 4)   // v5
      dstRoot
    })
    graft.acid.GraftTable.load(s, root)
  }

  /** MinHash+LSH near-dup pairs (Jaccard >= 0.5), shared by
    * q_dedup_minhash and the curation pipeline. Recomputed per invocation
    * on purpose: a session-lifetime memo would pin cached blocks forever
    * AND make repeated bench runs time the memo instead of the work. */
  private[queries] def minhashNearDups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    minhashNearDupsFrom(s, Tables.documents(s, d).select($"doc_id", $"text"))
  }

  /** [[minhashNearDups]] over an explicit (doc_id, text) set — the
    * curation pipeline passes its EXACT-DEDUPED survivors here (fuzzy
    * dedup after exact dedup, the production order), so LSH work scales
    * with DISTINCT content, not raw corpus size: a crawl at K× density
    * (duplicate clusters K× wider — the scale_gen shape) pays the same
    * near-dup cost, not K² per cluster. */
  private[queries] def minhashNearDupsFrom(s: SparkSession,
                                         base: DataFrame): DataFrame = {
    import s.implicits._
    graft.functions.register(s)
    // cache() the shared intermediates: the band self-join and the two
    // verify joins would otherwise recompute the shingle+signature
    // pipeline once PER REFERENCE (narrow plans have no shuffle for
    // Spark to reuse). ~4 MB at sf0.1 — cheap insurance.
    // Shingling runs in the one-pass byte-slice kernel (the interpreted
    // HOF version was ~7s of the query's 10s at sf0.1); `sh` is sorted
    // distinct 64-bit shingle hashes, so the exact-Jaccard verify is the
    // sorted merge walk (identical to string-set Jaccard absent a 64-bit
    // collision inside one union, ~1e-13/pair).
    val docs = base
      .select($"doc_id", TextOps.fastShingleHashes($"text").as("sh"))
      .filter(size($"sh") > 0)
      .cache()
    // one-pass signature kernel over the shingle hashes (no explode)
    val sigs = docs.select($"doc_id",
      call_function("minhash_signature", $"sh", lit(64)).as("sig"))
    val bands = sigs
      .select($"doc_id", posexplode(TextOps.bandKeysFromSig($"sig")).as(Seq("band_i", "band_key")))
      .cache()
    val candidates = bands.as("a").join(bands.as("b"), Seq("band_i", "band_key"))
      .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"))
      .filter($"a_id" < $"b_id")
      .dropDuplicates("a_id", "b_id")
    val result = candidates
      .join(docs.select($"doc_id".as("a_id"), $"sh".as("a_sh")), Seq("a_id"))
      .join(docs.select($"doc_id".as("b_id"), $"sh".as("b_sh")), Seq("b_id"))
      .select($"a_id", $"b_id",
        graft.functions.VectorExprs.sortedJaccard($"a_sh", $"b_sh").as("jaccard"))
      .filter($"jaccard" >= 0.5)
      .orderBy($"a_id", $"b_id")
      // localCheckpoint (eager), not cache: materializes the (tiny)
      // result so the intermediates can be released, but the blocks are
      // GC-managed with the DataFrame instead of pinned in the cache
      // registry for the session lifetime on every invocation
      .localCheckpoint()
    docs.unpersist()
    bands.unpersist()
    result
  }

  /** Block-local exact n-gram Jaccard over (doc_id, source, sh) rows,
    * SUB-TILED so a single source block no longer concentrates its whole
    * O(m²) comparison in one task: docs map into nt = ceil(m/tileSize)
    * tiles and every doc is replicated to each (min(t,o), max(t,o))
    * tile-pair of its source; flatMapGroups compares pairs within one
    * tile pair, so a source's m²/2 comparisons spread over nt(nt+1)/2
    * independent tasks with replication factor nt per doc.
    *
    * Two tile assignments, auto-selected by a narrow skew probe:
    *  - HASH tiles (default): tile = xxhash64(doc_id) % nt — zero extra
    *    shuffle of the fat arrays, but the per-task bound is
    *    PROBABILISTIC (Poisson-balanced around tileSize, ±3·sqrt).
    *  - DENSE tiles (skew fallback): tile = row_number within source /
    *    tileSize — HARD-capped at tileSize rows per tile regardless of
    *    the doc_id distribution, at the cost of one extra shuffle (the
    *    narrow id window + the join re-attaching arrays by id).
    * The probe only reads (doc_id, source) — column pruning keeps the
    * shingle computation out of it — and flips to dense when any hash
    * tile exceeds skewFactor x tileSize.
    *
    * Zero per-pair array duplication inside a task — the join-shaped
    * version materialized ~4 GB of copied shingle arrays through the
    * shuffle at sf0.1 (25s -> ~2s). Jaccard runs over 64-bit shingle
    * hashes (identical to string sets absent a 64-bit collision inside
    * one union, ~1e-13/pair). */
  private[graft] def ngramBlockedPairs(docs: DataFrame, tileSize: Int = 512,
                                         threshold: Double = 0.3,
                                         skewFactor: Double = 4.0): DataFrame = {
    // one narrow counts job, materialized (localCheckpoint) so the skew
    // probe and the tiled plan share it instead of re-aggregating docs
    val counts = sourceCounts(docs).localCheckpoint()
    ngramBlockedPairsImpl(docs, counts, tileSize, threshold,
      dense = hashTilesSkewed(docs, counts, tileSize, skewFactor))
  }

  private def sourceCounts(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.groupBy($"source").agg(count(lit(1)).as("m"))
  }

  /** Skew probe: true iff some source's hash tile holds more than
    * skewFactor x tileSize docs while that source has more than one tile
    * (single-tile sources are inherently one task either way). Narrow:
    * scans ids only, one scalar to the driver — the same class of
    * runtime statistic AQE reads. */
  private[graft] def hashTilesSkewed(docs: DataFrame, tileSize: Int,
                                     skewFactor: Double = 4.0): Boolean =
    hashTilesSkewed(docs, sourceCounts(docs), tileSize, skewFactor)

  private def hashTilesSkewed(docs: DataFrame, counts: DataFrame,
                              tileSize: Int, skewFactor: Double): Boolean = {
    val s = docs.sparkSession
    import s.implicits._
    !docs.select($"doc_id", $"source")
      .join(broadcast(counts), "source")
      .withColumn("nt", ceil($"m" / lit(tileSize.toDouble)).cast("int"))
      .filter($"nt" > 1)
      .withColumn("tile", pmod(xxhash64($"doc_id"), $"nt").cast("int"))
      .groupBy($"source", $"tile").agg(count(lit(1)).as("c"))
      .filter($"c" > skewFactor * tileSize)
      .isEmpty
  }

  private[graft] def ngramBlockedPairsWith(docs: DataFrame, tileSize: Int,
                                           threshold: Double,
                                           dense: Boolean): DataFrame =
    ngramBlockedPairsImpl(docs, sourceCounts(docs), tileSize, threshold, dense)

  private def ngramBlockedPairsImpl(docs: DataFrame, counts: DataFrame,
                                    tileSize: Int, threshold: Double,
                                    dense: Boolean): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val tiled =
      if (!dense) docs.join(broadcast(counts), "source")
        .withColumn("nt", ceil($"m" / lit(tileSize.toDouble)).cast("int"))
        .withColumn("tile", pmod(xxhash64($"doc_id"), $"nt").cast("int"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"source").orderBy($"doc_id")
        val idx = docs.select($"doc_id", $"source")
          .withColumn("tile",
            ((row_number().over(w) - 1) / tileSize).cast("int"))
          .select($"doc_id", $"tile")
        docs.join(idx, Seq("doc_id"))
          .join(broadcast(counts), "source")
          .withColumn("nt", ceil($"m" / lit(tileSize.toDouble)).cast("int"))
      }
    tiled
      .select($"doc_id", $"source", $"sh", $"tile",
        explode(transform(sequence(lit(0), $"nt" - 1),
          o => struct(least($"tile", o).as("ta"), greatest($"tile", o).as("tb")))).as("tp"))
      .select($"source", $"tp.ta", $"tp.tb", $"tile", $"doc_id", $"sh")
      .as[(String, Int, Int, Int, Long, Array[Long])]
      .groupByKey(r => (r._1, r._2, r._3))
      .flatMapGroups { (key: (String, Int, Int), it: Iterator[(String, Int, Int, Int, Long, Array[Long])]) =>
        val (_, ta, tb) = key
        val rows = it.toArray
        def jac(x: Array[Long], y: Array[Long]): Double =
          graft.functions.VectorExprs.sortedJaccardValue(x, y)
        if (ta == tb) {
          val block = rows.sortBy(_._5)
          for {
            i <- block.indices.iterator
            j <- (i + 1) until block.length
            v = jac(block(i)._6, block(j)._6)
            if v >= threshold
          } yield (block(i)._5, block(j)._5, v)
        } else {
          val left = rows.filter(_._4 == ta)
          val right = rows.filter(_._4 == tb)
          for {
            x <- left.iterator
            y <- right
            v = jac(x._6, y._6)
            if v >= threshold
          } yield (math.min(x._5, y._5), math.max(x._5, y._5), v)
        }
      }
      .toDF("a_id", "b_id", "jaccard")
  }

  /** Build the once-per-JVM provenance tables (streamed ingest + layout
    * churn) outside any timed gate (r16 directive #6). */
  override def warm(s: SparkSession, d: String): Unit = {
    provenanceTable(s, d); provenanceDedupTable(s, d)
    ()
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- exact dedup via content digest (hash groupBy, no shuffle of text) ----
    "q_dedup_exact" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .groupBy(sha2($"text", 256).as("digest"))
        .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select($"doc_id", $"n_copies")
        .orderBy($"doc_id")
    },

    // ---- MinHash + LSH banded fuzzy dedup, exact-Jaccard verified ----
    // Pipeline shape at scale: string-hash each shingle ONCE; build the
    // 64-slot signature as a hash AGGREGATION over exploded shingle
    // hashes (map-side combinable); shuffle only narrow (doc_id, band)
    // rows into the candidate join; re-attach shingle arrays by id for
    // the exact-Jaccard verify of the (few) candidates.
    "q_dedup_minhash" -> { (s, d) => minhashNearDups(s, d) },

    // ---- SimHash near-dup (hamming <= 3) via 16-bit block LSH ----
    "q_dedup_simhash" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      val sigs = Tables.documents(s, d)
        .select($"doc_id", TextOps.simhash($"text").as("sig"))
      val blocks = sigs.select($"doc_id", $"sig", explode(TextOps.simhashBlocks($"sig")).as("b"))
        .select($"doc_id", $"sig", $"b.blk", $"b.v")
      val a = blocks.select($"doc_id".as("a_id"), $"sig".as("a_sig"), $"blk", $"v")
      val b = blocks.select($"doc_id".as("b_id"), $"sig".as("b_sig"), $"blk", $"v")
      a.join(b, Seq("blk", "v"))
        .filter($"a_id" < $"b_id")
        // hamming BEFORE the pair dedup (r17, guide §2.3): it is a pure
        // function of the (deterministic) signatures, so filtering first
        // is result-identical while the dropDuplicates shuffle carries
        // only hamming<=3 survivors instead of every block-collision
        // candidate pair — the candidate:survivor ratio grows with
        // corpus density, so the saving scales.
        .select($"a_id", $"b_id", asLong(TextOps.hamming64($"a_sig", $"b_sig")).as("hamming"))
        .filter($"hamming" <= 3)
        .dropDuplicates("a_id", "b_id")
        .orderBy($"a_id", $"b_id")
    },

    // ---- exact-substring (passage-level) dedup: 16-token span hashes ----
    // Lee et al.'s "Deduplicating Training Data" finding is that exact
    // REPEATED PASSAGES matter, not just whole-record dups: two documents
    // count as span-duplicated when they share any run of W=16 identical
    // tokens. One corpus pass computes every span's rolling hash
    // (WordHashes -> SpanHashes, both codegen; O(tokens) per doc), then
    // docs pair up through a narrow (span_hash, doc_id) equi-join —
    // text never reaches a shuffle, exactly the inverted-posting shape
    // of BM25. Spans shared by >32 docs (boilerplate headers — the
    // stop-word analogue of postings) are dropped before pairing, which
    // bounds the per-span pair fan-out at 32^2 regardless of corpus
    // size; a production pipeline tunes that cap to its boilerplate
    // profile. Output: doc pairs + how many distinct shared spans.
    "q_dedup_substring" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      val spanDocs = Tables.documents(s, d)
        .select($"doc_id",
          explode(call_function("span_hashes",
            call_function("word_hashes", $"text"), lit(16))).as("span_hash"))
        .distinct()
      val eligible = spanDocs.groupBy($"span_hash")
        .agg(count(lit(1)).as("m"))
        .filter($"m".between(2, 32))
        .select($"span_hash")
      val cand = spanDocs.join(eligible, "span_hash")
      cand.select($"doc_id".as("doc_a"), $"span_hash")
        .join(cand.select($"doc_id".as("doc_b"), $"span_hash"), "span_hash")
        .filter($"doc_a" < $"doc_b")
        .groupBy($"doc_a", $"doc_b")
        .agg(asLong(count(lit(1))).as("n_shared_spans"))
        .orderBy($"doc_a", $"doc_b")
    },

    // ---- blocked exact n-gram Jaccard (same-source blocking, tiled) ----
    "q_dedup_ngram_blocked" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      val docs = Tables.documents(s, d)
        .select($"doc_id", $"source", TextOps.fastShingleHashes($"text").as("sh"))
        .filter(size($"sh") > 0)
      ngramBlockedPairs(docs).orderBy($"a_id", $"b_id")
    },

    // ---- composite curation pipeline: the ops composed end-to-end ----
    // exact-dedup (keep min doc_id per text) -> near-dup pruning (drop the
    // larger id of every Jaccard>=0.5 pair) -> quality + length gate.
    // Thresholds compare bit-identical doubles on both engines, so gate
    // membership is exact, not fuzzy.
    //
    // FUZZY DEDUP RUNS AFTER EXACT DEDUP (re-founded r14, the production
    // pipeline order): the LSH near-dup pass sees only the exact-kept
    // survivors, so its band buckets and verify joins scale with DISTINCT
    // content — a crawl at K× density (exact-duplicate clusters K× wider,
    // the scale_gen SF1 shape) pays K× only in the digest groupBy, never
    // K² inside clusters. PROVABLY output-identical to running LSH over
    // the raw corpus: if some a<b verifies J(a,b)>=0.5, a's exact-kept
    // representative a' = min-id of a's digest group has IDENTICAL text —
    // identical shingles, identical band keys, identical Jaccard — so
    // (a',b) is surfaced and verified whenever (a,b) would be, and a' < b
    // (a' <= a < b; a' is never b itself, since a'=b would put a in b's
    // digest group with a<b, contradicting b being exact-kept). The
    // oracle applies the same restriction, equivalent by the same
    // argument.
    "q_pipeline_training_set" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      val base = Tables.documents(s, d)
      // dedup on the 32-byte digest, NOT the raw text: grouping by `text`
      // would shuffle the whole corpus by multi-KB keys at 100 TB.
      // Identical semantics absent a sha2-256 collision.
      val keepExact = base.groupBy(sha2($"text", 256).as("digest"))
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val docs = base.join(keepExact, Seq("doc_id"))
      // near-dup pairs via the (oracle-equivalent) LSH path, over the
      // exact-kept set only
      val nearDups = minhashNearDupsFrom(s, docs.select($"doc_id", $"text"))
        .select($"b_id".as("doc_id")).distinct()
      val kept = docs.join(nearDups, Seq("doc_id"), "left_anti")
      kept.select(Seq($"doc_id") ++ TextOps.qualityColumns($"text"): _*)
        .filter($"n_tokens" >= 20 && $"quality_score" >= 0.2)
        .select($"doc_id", $"n_tokens", $"quality_score")
        .orderBy($"doc_id")
    },

    // ---- TRAINING-DATA PROVENANCE via row tracking ----
    // The lineage story row IDs exist for: documents land in a
    // row-tracking ACID table across three ingest batches, the table is
    // then compacted AND z-ordered (full layout churn — every file
    // rewritten, ids carried verbatim), and the curation pipeline's
    // survivors attribute back to their ingest batch through `_row_id`
    // ALONE: the per-commit change feed says which id landed in which
    // commit, the post-churn snapshot joins on the id — no business key
    // anywhere in the lineage join. Corrupted/re-minted ids would shift
    // the per-batch counts and break the compare.
    "q_pipeline_provenance" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      val t = provenanceTable(s, d)
      // ingest attribution strictly via _row_id (commit v = batch v)
      val byv = t.changeFeedByVersion(0L, 3L)
        .filter($"_change" === "insert")
        .select($"_row_id", $"_commit_version".as("ingest_batch"))
      // the training-set selection over the POST-CHURN snapshot
      val base = t.snapshot().select($"doc_id", $"_row_id", $"text")
      val keepExact = base.groupBy(sha2($"text", 256).as("digest"))
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val docs = base.join(keepExact, Seq("doc_id"))
      val nearDups = minhashNearDupsFrom(s, docs.select($"doc_id", $"text"))
        .select($"b_id".as("doc_id")).distinct()
      val kept = docs.join(nearDups, Seq("doc_id"), "left_anti")
      val survivors = kept
        .select(Seq($"doc_id", $"_row_id") ++ TextOps.qualityColumns($"text"): _*)
        .filter($"n_tokens" >= 20 && $"quality_score" >= 0.2)
      survivors.join(byv, Seq("_row_id"))
        .groupBy($"ingest_batch")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum($"n_tokens").cast("long").as("sum_tokens"))
        .orderBy($"ingest_batch")
    },

    // PROVENANCE through the INGEST-DEDUP SINK (round 16): the same
    // lineage join, but the table was fed by three OVERLAPPING stream
    // deliveries through dedupKey+rowTracking — exactly-once keys AND
    // stable ids through the appendUnique anti-join path, then the
    // full compact+zorder churn. Same attribution rule (commit v =
    // the doc_id%3==v-1 slice), same oracle.
    "q_pipeline_provenance_dedup" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      val t = provenanceDedupTable(s, d)
      val byv = t.changeFeedByVersion(0L, 3L)
        .filter($"_change" === "insert")
        .select($"_row_id", $"_commit_version".as("ingest_batch"))
      val base = t.snapshot().select($"doc_id", $"_row_id", $"text")
      val keepExact = base.groupBy(sha2($"text", 256).as("digest"))
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val docs = base.join(keepExact, Seq("doc_id"))
      val nearDups = minhashNearDupsFrom(s, docs.select($"doc_id", $"text"))
        .select($"b_id".as("doc_id")).distinct()
      val kept = docs.join(nearDups, Seq("doc_id"), "left_anti")
      val survivors = kept
        .select(Seq($"doc_id", $"_row_id") ++ TextOps.qualityColumns($"text"): _*)
        .filter($"n_tokens" >= 20 && $"quality_score" >= 0.2)
      survivors.join(byv, Seq("_row_id"))
        .groupBy($"ingest_batch")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum($"n_tokens").cast("long").as("sum_tokens"))
        .orderBy($"ingest_batch")
    },

    // ---- edit-distance verification of LSH candidates ----
    // Levenshtein is O(len²) per pair — NEVER all-pairs at scale; here it
    // runs only on the near-dup pairs the minhash path surfaced, the
    // composition a real dedup pipeline uses for a final char-level check.
    "q_text_editdist" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"text")
      minhashNearDups(s, d)
        .join(docs.select($"doc_id".as("a_id"), $"text".as("a_text")), Seq("a_id"))
        .join(docs.select($"doc_id".as("b_id"), $"text".as("b_text")), Seq("b_id"))
        // equality short-circuit: exact-dup pairs (the dominant cluster
        // shape in web corpora, and quadratically many inside each dup
        // cluster) cost an O(len) compare, not an O(len^2) DP — the
        // 5x-copies scale sweep cut 113s -> O(seconds) on this line
        .select($"a_id", $"b_id",
          when($"a_text" === $"b_text", lit(0L))
            .otherwise(asLong(levenshtein($"a_text", $"b_text"))).as("edit_dist"))
        .orderBy($"a_id", $"b_id")
    },

    // ---- train/test contamination via n-gram overlap ----
    // The standard benchmark-leakage check: a training doc is
    // contaminated if it shares any word shingle with the holdout set.
    // Scale shape: a real benchmark holdout is EXTERNALLY FIXED, so the
    // membership rule caps it (doc_id % 100 == 0 AND doc_id < 50000 —
    // at most 500 docs at any corpus size); its DISTINCT shingle hashes
    // broadcast O(benchmark), corpus-independent, and the corpus side is
    // one narrow explode + broadcast join + count, no corpus
    // self-shuffle. Hash-vs-string equivalence as elsewhere (~1e-13
    // collision odds per pair).
    "q_contamination" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      val docs = Tables.documents(s, d)
        .select($"doc_id", TextOps.fastShingleHashes($"text").as("sh"))
        .filter(size($"sh") > 0)
      val holdout = docs.filter($"doc_id" % 100 === 0 && $"doc_id" < 50000)
        .select(explode($"sh").as("h")).distinct()
      docs.filter($"doc_id" % 100 =!= 0)
        .select($"doc_id", explode($"sh").as("h"))
        .join(broadcast(holdout), Seq("h"))
        .groupBy($"doc_id")
        .agg(countDistinct($"h").as("n_shared"))
        .orderBy($"doc_id")
    },

    // ---- token statistics ----
    "q_text_stats" -> { (s, d) =>
      import s.implicits._
      val w = TextOps.words($"text")
      Tables.documents(s, d).select(
        $"doc_id",
        $"n_chars",
        asLong(size(w)).as("n_ws_tokens"),
        asLong(size(regexp_extract_all($"text", lit("[a-z0-9]+|[^a-z0-9 ]"), lit(0))))
          .as("n_re_tokens"),
        asLong(size(array_distinct(w))).as("n_distinct_tokens"),
        (length(regexp_replace($"text", " ", "")).cast("double") / size(w))
          .as("avg_token_len"))
        .orderBy($"doc_id")
    },

    // ---- RAG / training chunking: overlapping token windows ----
    // Every RAG ingest and long-context training pipeline runs this
    // exact op: fixed-size token windows (64) advancing by a stride
    // (48, i.e. 16-token overlap), tail windows kept short. One pass,
    // one explode — the chunk fan-out is bounded by ~n_tokens/stride per
    // document, so the shuffle volume scales with the corpus, never
    // quadratically.
    "q_text_chunks" -> { (s, d) =>
      import s.implicits._
      val chunkTokens = 64
      val stride = 48
      val toks = TextOps.words($"text")
      Tables.documents(s, d)
        .select($"doc_id", toks.as("toks"), size(toks).as("n"))
        .withColumn("chunk_idx", explode(sequence(lit(0),
          (($"n" - 1) / lit(stride)).cast("int"))))
        .select($"doc_id", $"chunk_idx",
          array_join(slice($"toks", $"chunk_idx" * stride + 1,
            lit(chunkTokens)), " ").as("chunk"),
          asLong(size(slice($"toks", $"chunk_idx" * stride + 1,
            lit(chunkTokens)))).as("n_tokens"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    // ---- quality scoring ----
    "q_text_quality" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select(Seq($"doc_id") ++ TextOps.qualityColumns($"text"): _*)
        .orderBy($"doc_id")
    },

    // ---- language ID heuristic (argmax profile scoring; DuckDB oracle
    // mirrors the struct-max argmax with list_sort of structs) ----
    "q_text_langid" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"lang".as("labeled_lang"), TextOps.langId($"text").as("predicted_lang"))
        .orderBy($"doc_id")
    },

    // ---- language-ID confusion matrix (classifier diagnostics) ----
    // The evaluation counterpart of q_text_langid: predicted-vs-labeled
    // counts plus per-cell accuracy flag — the table a curation
    // dashboard uses to decide whether the lang filter is safe to trust
    // per language. Two-stage aggregation over (label, prediction) —
    // 25 cells max, the shuffle carries cell counts, never text.
    "q_text_lang_confusion" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"lang".as("labeled_lang"), TextOps.langId($"text").as("predicted_lang"))
        .groupBy($"labeled_lang", $"predicted_lang")
        .agg(asLong(count(lit(1))).as("n"))
        .withColumn("is_correct", $"labeled_lang" === $"predicted_lang")
        .orderBy($"labeled_lang", $"predicted_lang")
    },

    // ---- deterministic train/validation/test split ----
    // The standard corpus-split op: assignment is a PURE function of
    // doc_id (Knuth multiplicative hash -> 80/10/10), so it is stable
    // across runs, engines, and corpus growth (a new doc never moves an
    // old one between splits) — and the whole rule replays in SQL.
    // Narrow map + one small aggregation; no shuffle of document text.
    "q_split_train_eval" -> { (s, d) =>
      import s.implicits._
      // doc_id is reduced mod 2^31 BEFORE the multiply: 2^31 * 2654435761
      // = 5.7e18 < Long.Max, so the rule stays total (no ANSI overflow)
      // for any 64-bit id — without the reduction ids past ~3.47e9 (a
      // realistic 100 TB corpus) would throw
      val h = Hashing.knuth($"doc_id") % 100
      Tables.documents(s, d)
        .withColumn("split",
          when(h < 80, "train").when(h < 90, "validation").otherwise("test"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), asLong(sum($"n_chars")).as("sum_chars"))
        .orderBy($"split", $"lang")
    },

    // ---- curriculum binning: per-source quality deciles ----
    // ntile over (PARTITION BY source ORDER BY score) — partition-
    // parallel (one window task per source, and sources are many at
    // corpus scale; a GLOBAL ntile would serialize the corpus through
    // one task). Unique (score, doc_id) tiebreak keeps the bin
    // assignment deterministic, so the oracle replays it exactly. At
    // 100 TB the approximate alternative is bucketing by
    // percentile_approx thresholds (contract-verified separately in
    // q_agg_approx_percentile).
    "q_text_quality_bins" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val q = Tables.documents(s, d)
        .select(Seq($"doc_id", $"source") ++ TextOps.qualityColumns($"text"): _*)
      q.select($"doc_id", $"source", $"quality_score",
          asLong(ntile(10).over(Window.partitionBy($"source")
            .orderBy($"quality_score", $"doc_id"))).as("bin"))
        .orderBy($"doc_id")
    },

    // ---- rolling-hash fingerprint (custom codegen expression) ----
    "q_text_fingerprint" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      Tables.documents(s, d)
        .select($"doc_id", expr("kgram_hashes(text, 8)").as("kh"))
        .select(
          $"doc_id",
          asLong(size($"kh")).as("n_kgrams"),
          array_min($"kh").as("fp_min"),
          array_max($"kh").as("fp_max"),
          // winnow-style sketch: min hash of each 32-gram stride.
          // Empty kh (doc shorter than k bytes) -> 0 strides, matching the
          // oracle (DuckDB list_distinct drops the NULL a min-of-empty
          // stride would produce; Spark array_distinct keeps it)
          when(size($"kh") === 0, lit(0L)).otherwise(
            asLong(size(array_distinct(transform(
              sequence(lit(1L), greatest(expr("size(kh) div 32"), lit(1L))),
              i => array_min(slice($"kh", ((i - 1) * 32 + 1).cast("int"), lit(32)))))))).as("n_winnow"))
        .orderBy($"doc_id")
    }
  )

  override def oracles: Map[String, String] = Map(
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY text
        |ORDER BY doc_id""".stripMargin,

    // independent ground truth: all-pairs exact Jaccard (affordable at
    // sf0.01) — verifies the LSH path found every >= 0.5 pair.
    // PROBABILISTIC gate, acknowledged: the Spark side surfaces candidates
    // via 32x2 banding, so a borderline pair (j barely >= 0.5) has a
    // ~1e-4 chance of missing every band on some corpus; on the planted
    // near-dups here (j >= 0.8 vs ~0.02 background, S-curve knee at 0.18)
    // the miss probability is < 1e-12 per pair, which is why the
    // exact-match gate is stable across regenerated data. If a future
    // corpus plants pairs near the 0.5 verify threshold, widen the bands
    // or gate on recall instead (same analysis as the q_embed_neardup
    // comment). Applies equally to q_text_editdist, which reuses this
    // pair set.
    "q_dedup_minhash" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        FOR i IN range(1, len(w) - 1)]) s
        |       FROM docs WHERE len(w) >= 3)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |         / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |         / len(list_distinct(list_concat(a.s, b.s))) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,

    "q_dedup_ngram_blocked" ->
      """WITH docs AS (SELECT doc_id, source, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id, source,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        FOR i IN range(1, len(w) - 1)]) s
        |       FROM docs WHERE len(w) >= 3)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |       CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |         / len(list_distinct(list_concat(a.s, b.s))) AS jaccard
        |FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |         / len(list_distinct(list_concat(a.s, b.s))) >= 0.3
        |ORDER BY a_id, b_id""".stripMargin,

    "q_pipeline_training_set" ->
      """WITH keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |docs AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
        |ws AS (SELECT doc_id, string_split(text, ' ') w FROM docs),
        |sh AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        FOR i IN range(1, len(w) - 1)]) s
        |       FROM ws WHERE len(w) >= 3),
        |drops AS (SELECT DISTINCT b.doc_id
        |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |                / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |kept AS (SELECT * FROM docs WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
        |q AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','of','to','and','in','is','it','for','on'))) AS n_stop,
        |    len(list_distinct(string_split(text, ' '))) AS n_dist
        |  FROM kept)
        |SELECT doc_id,
        |  CAST(n_tok AS BIGINT) AS n_tokens,
        |  round(CAST(n_stop AS DOUBLE) / n_tok * 0.5
        |        + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.3
        |        + CAST(n_dist AS DOUBLE) / n_tok * 0.2, 6) AS quality_score
        |FROM q
        |WHERE n_tok >= 20
        |  AND round(CAST(n_stop AS DOUBLE) / n_tok * 0.5
        |        + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.3
        |        + CAST(n_dist AS DOUBLE) / n_tok * 0.2, 6) >= 0.2
        |ORDER BY doc_id""".stripMargin,

    // the provenance replay: the same survivor selection, attributed by
    // the ingest rule (batch b = doc_id % 3 landed in commit b+1) — the
    // Spark side must recover the identical attribution via _row_id only
    "q_pipeline_provenance" ->
      """WITH keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |docs AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
        |ws AS (SELECT doc_id, string_split(text, ' ') w FROM docs),
        |sh AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        FOR i IN range(1, len(w) - 1)]) s
        |       FROM ws WHERE len(w) >= 3),
        |drops AS (SELECT DISTINCT b.doc_id
        |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |                / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |kept AS (SELECT * FROM docs WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
        |q AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','of','to','and','in','is','it','for','on'))) AS n_stop,
        |    len(list_distinct(string_split(text, ' '))) AS n_dist
        |  FROM kept),
        |surv AS (
        |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens
        |  FROM q
        |  WHERE n_tok >= 20
        |    AND round(CAST(n_stop AS DOUBLE) / n_tok * 0.5
        |          + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.3
        |          + CAST(n_dist AS DOUBLE) / n_tok * 0.2, 6) >= 0.2)
        |SELECT doc_id % 3 + 1 AS ingest_batch,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM surv GROUP BY 1 ORDER BY 1""".stripMargin,

    // the dedup-sink twin: identical attribution (batch b = doc_id % 3
    // landed in commit b+1 — the overlapping redeliveries dedup away)
    "q_pipeline_provenance_dedup" ->
      """WITH keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |docs AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
        |ws AS (SELECT doc_id, string_split(text, ' ') w FROM docs),
        |sh AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        FOR i IN range(1, len(w) - 1)]) s
        |       FROM ws WHERE len(w) >= 3),
        |drops AS (SELECT DISTINCT b.doc_id
        |          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |          WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |                / len(list_distinct(list_concat(a.s, b.s))) >= 0.5),
        |kept AS (SELECT * FROM docs WHERE doc_id NOT IN (SELECT doc_id FROM drops)),
        |q AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_tok,
        |    len(list_filter(string_split(text, ' '),
        |        t -> t IN ('the','a','of','to','and','in','is','it','for','on'))) AS n_stop,
        |    len(list_distinct(string_split(text, ' '))) AS n_dist
        |  FROM kept),
        |surv AS (
        |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens
        |  FROM q
        |  WHERE n_tok >= 20
        |    AND round(CAST(n_stop AS DOUBLE) / n_tok * 0.5
        |          + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.3
        |          + CAST(n_dist AS DOUBLE) / n_tok * 0.2, 6) >= 0.2)
        |SELECT doc_id % 3 + 1 AS ingest_batch,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM surv GROUP BY 1 ORDER BY 1""".stripMargin,

    // all-pairs exact-Jaccard pair set (independent of the LSH path) +
    // DuckDB's own levenshtein over those pairs
    "q_text_editdist" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        FOR i IN range(1, len(w) - 1)]) s
        |       FROM docs WHERE len(w) >= 3),
        |pairs AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.s, b.s))) >= 0.5)
        |SELECT a_id, b_id,
        |  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist
        |FROM pairs
        |JOIN documents da ON da.doc_id = a_id
        |JOIN documents db ON db.doc_id = b_id
        |ORDER BY a_id, b_id""".stripMargin,

    // independent string-shingle ground truth for the hash-side overlap
    "q_contamination" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') w FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |                        FOR i IN range(1, len(w) - 1)]) s
        |       FROM docs WHERE len(w) >= 3),
        |hold AS (SELECT DISTINCT unnest(s) AS g FROM sh
        |         WHERE doc_id % 100 = 0 AND doc_id < 50000),
        |corpus AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 100 != 0)
        |SELECT doc_id, count(DISTINCT g) AS n_shared
        |FROM corpus JOIN hold USING (g)
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_split_train_eval" ->
      """WITH s AS (
        |  SELECT lang, n_chars,
        |    CASE WHEN (((doc_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
        |         WHEN (((doc_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296 % 100 < 90 THEN 'validation'
        |         ELSE 'test' END AS split
        |  FROM documents)
        |SELECT split, lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM s
        |GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin,

    // same quality formula as the q_text_quality oracle, then the decile
    // assignment replayed with the identical (score, doc_id) tiebreak
    "q_text_quality_bins" ->
      """WITH x AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents),
        |y AS (
        |  SELECT doc_id, source, len(w) AS n_tok,
        |    len(list_filter(w, t -> t IN ('the','a','of','to','and','in','is','it','for','on'))) AS n_stop,
        |    len(list_distinct(w)) AS n_dist
        |  FROM x),
        |q AS (
        |  SELECT doc_id, source,
        |    round(CAST(n_stop AS DOUBLE) / n_tok * 0.5
        |          + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.3
        |          + CAST(n_dist AS DOUBLE) / n_tok * 0.2, 6) AS quality_score
        |  FROM y)
        |SELECT doc_id, source, quality_score,
        |  CAST(ntile(10) OVER (PARTITION BY source
        |                       ORDER BY quality_score, doc_id) AS BIGINT) AS bin
        |FROM q
        |ORDER BY doc_id""".stripMargin,

    "q_text_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents),
        |c AS (SELECT doc_id, toks,
        |        unnest(range(0,
        |          CAST(floor((len(toks) - 1) / 48) AS BIGINT) + 1))
        |          AS chunk_idx
        |      FROM t)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  array_to_string(toks[chunk_idx*48+1 : chunk_idx*48+64], ' ')
        |    AS chunk,
        |  CAST(len(toks[chunk_idx*48+1 : chunk_idx*48+64]) AS BIGINT)
        |    AS n_tokens
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id, n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_re_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
        |  CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """WITH x AS (
        |  SELECT doc_id,
        |    string_split(text, ' ') AS w,
        |    len(string_split(text, ' ')) AS n_tok
        |  FROM documents),
        |y AS (
        |  SELECT doc_id, n_tok,
        |    len(list_filter(w, t -> t IN ('the','a','of','to','and','in','is','it','for','on'))) AS n_stop,
        |    len(list_distinct(w)) AS n_dist
        |  FROM x)
        |SELECT doc_id,
        |  CAST(n_tok AS BIGINT) AS n_tokens,
        |  CAST(n_stop AS BIGINT) AS n_stopwords,
        |  round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stopword_ratio,
        |  round(CAST(n_dist AS DOUBLE) / n_tok, 6) AS distinct_ratio,
        |  round(CAST(n_stop AS DOUBLE) / n_tok * 0.5
        |        + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.3
        |        + CAST(n_dist AS DOUBLE) / n_tok * 0.2, 6) AS quality_score
        |FROM y
        |ORDER BY doc_id""".stripMargin,

    // same argmax as TextOps.langId: per-language stopword hit counts into
    // (score, lang) structs, lexicographic struct max (ties break toward
    // the later language name in both engines)
    "q_text_langid" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents)
        |SELECT doc_id, lang AS labeled_lang,
        |  list_sort([
        |    {score: len(list_filter(ws, t -> t IN ('der','die','das','und','ist','nicht','ein'))), lang: 'de'},
        |    {score: len(list_filter(ws, t -> t IN ('the','a','of','to','and','is','it'))), lang: 'en'},
        |    {score: len(list_filter(ws, t -> t IN ('el','la','de','que','y','los','es'))), lang: 'es'},
        |    {score: len(list_filter(ws, t -> t IN ('le','la','de','et','est','les','un'))), lang: 'fr'},
        |    {score: len(list_filter(ws, t -> t IN ('de','shi','bu','le','ren','wo','you'))), lang: 'zh'}
        |  ])[-1].lang AS predicted_lang
        |FROM w
        |ORDER BY doc_id""".stripMargin,

    // the langid replay grouped into the confusion matrix
    "q_text_lang_confusion" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
        |p AS (
        |  SELECT lang AS labeled_lang,
        |    list_sort([
        |      {score: len(list_filter(ws, t -> t IN ('der','die','das','und','ist','nicht','ein'))), lang: 'de'},
        |      {score: len(list_filter(ws, t -> t IN ('the','a','of','to','and','is','it'))), lang: 'en'},
        |      {score: len(list_filter(ws, t -> t IN ('el','la','de','que','y','los','es'))), lang: 'es'},
        |      {score: len(list_filter(ws, t -> t IN ('le','la','de','et','est','les','un'))), lang: 'fr'},
        |      {score: len(list_filter(ws, t -> t IN ('de','shi','bu','le','ren','wo','you'))), lang: 'zh'}
        |    ])[-1].lang AS predicted_lang
        |  FROM w)
        |SELECT labeled_lang, predicted_lang, CAST(count(*) AS BIGINT) AS n,
        |       labeled_lang = predicted_lang AS is_correct
        |FROM p
        |GROUP BY labeled_lang, predicted_lang
        |ORDER BY labeled_lang, predicted_lang""".stripMargin,

    // independent reimplementation of the KGramHashes polynomial (k=8,
    // B=1000003) in 128-bit arithmetic mod 2^64, mapped back to signed
    // 64-bit: h(i) = sum_j byte(i+j)·B^(7-j). unicode(char) == UTF-8 byte
    // for this all-ASCII corpus (verified; a non-ASCII corpus would need
    // a byte-level oracle). The winnow column replays Spark's
    // min-per-32-stride sketch with list slicing.
    "q_text_fingerprint" ->
      """WITH codes AS (
        |  SELECT doc_id, list_transform(string_split(text, ''), c -> CAST(unicode(c) AS HUGEINT)) AS cs
        |  FROM documents),
        |h AS (
        |  SELECT doc_id,
        |    [ CAST(CASE WHEN m >= 9223372036854775808 THEN m - 18446744073709551616 ELSE m END AS BIGINT)
        |      FOR m IN [
        |        (cs[i]*12924618581234127435 + cs[i+1]*10923514805226455897 + cs[i+2]*14453212906556403763
        |         + cs[i+3]*14003818205314896721 + cs[i+4]*1000009000027000027 + cs[i+5]*1000006000009
        |         + cs[i+6]*1000003 + cs[i+7]) % 18446744073709551616
        |        FOR i IN range(1, len(cs) - 6) ]
        |    ] AS kh
        |  FROM codes)
        |SELECT doc_id, CAST(len(kh) AS BIGINT) AS n_kgrams,
        |  list_min(kh) AS fp_min, list_max(kh) AS fp_max,
        |  CAST(len(list_distinct([ list_min(kh[(s-1)*32+1 : (s-1)*32+32])
        |    FOR s IN range(1, greatest(len(kh)//32, 1) + 1) ])) AS BIGINT) AS n_winnow
        |FROM h
        |ORDER BY doc_id""".stripMargin,

    // generated: replay the polynomial word hashes (list_reduce in
    // 128-bit arithmetic mod 2^64), rebuild the 64-bit SimHash signature
    // bit by bit (bit j set iff set-count strictly exceeds clear-count),
    // then ALL-PAIRS hamming <= 3 — independent ground truth proving the
    // 16-bit block-LSH path is lossless (pigeonhole: hamming <= 3 pairs
    // must share one of the 4 blocks)
    "q_dedup_simhash" -> {
      val bits = (0 until 64).map { j =>
        val p = 1L << j
        // 1L << 63 is negative in Scala; the HUGEINT literal needs the
        // unsigned magnitude
        val pow = java.lang.Long.toUnsignedString(p)
        s"(CASE WHEN 2*len(list_filter(hs, h -> (h // $pow::HUGEINT) % 2 = 1)) > len(hs) THEN $pow::HUGEINT ELSE 0::HUGEINT END)"
      }.mkString("\n     + ")
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |wh AS (SELECT doc_id,
         |        [CASE WHEN len(t) = 0 THEN 0::HUGEINT
         |              ELSE list_reduce(list_transform(string_split(t, ''), c -> CAST(unicode(c) AS HUGEINT)),
         |                               (a, b) -> (a * 1000003 + b) % 18446744073709551616::HUGEINT)
         |         END FOR t IN ws] AS hs
         |       FROM w),
         |sg AS (SELECT doc_id,
         |        CAST(CASE WHEN m >= 9223372036854775808::HUGEINT THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT) AS sig
         |       FROM (SELECT doc_id, ($bits) AS m FROM wh))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
         |FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sig, b.sig)) <= 3
         |ORDER BY a_id, b_id""".stripMargin
    },

    // replay the polynomial word hashes (as in the simhash oracle), fold
    // every 16-hash window with the same B=1000003 polynomial mod 2^64
    // (list_reduce seeds with the first element — identical to a 0-seeded
    // fold), then rebuild the capped posting join. Span-hash values stay
    // HUGEINT here: they are only join/group keys, never output, so the
    // signed-BIGINT mapping the simhash oracle needs is unnecessary.
    "q_dedup_substring" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |wh AS (SELECT doc_id,
        |        [CASE WHEN len(t) = 0 THEN 0::HUGEINT
        |              ELSE list_reduce(list_transform(string_split(t, ''), c -> CAST(unicode(c) AS HUGEINT)),
        |                               (a, b) -> (a * 1000003 + b) % 18446744073709551616::HUGEINT)
        |         END FOR t IN ws] AS hs
        |       FROM w),
        |spans AS (
        |  SELECT DISTINCT doc_id, span_hash
        |  FROM (SELECT doc_id,
        |          unnest([ list_reduce(hs[i : i + 15],
        |                     (a, b) -> (a * 1000003 + b) % 18446744073709551616::HUGEINT)
        |                   FOR i IN range(1, len(hs) - 14) ]) AS span_hash
        |        FROM wh WHERE len(hs) >= 16)),
        |eligible AS (SELECT span_hash FROM spans
        |             GROUP BY span_hash HAVING count(*) BETWEEN 2 AND 32)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_spans
        |FROM spans a
        |JOIN spans b ON a.span_hash = b.span_hash AND a.doc_id < b.doc_id
        |JOIN eligible e ON e.span_hash = a.span_hash
        |GROUP BY 1, 2
        |ORDER BY doc_a, doc_b""".stripMargin
  )
}
