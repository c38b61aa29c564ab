package graft.queries

import graft.{QueryPack, Tables}
import graft.llm.VectorOps._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table: brute-force cosine
  * top-k (the correctness baseline), embedding-cosine near-dup pairs,
  * and an IVF-style probed variant (the ANN scale path).
  *
  * Scale design:
  *  - top-k broadcasts the (small) query set against a partitioned corpus
  *    scan — one pass over the corpus, partial top-k per partition via the
  *    ranking window, no corpus self-shuffle. At 100 TB this is the
  *    GEMM-shaped "scan x small query block" pattern.
  *  - near-dup is the one genuinely quadratic op (exact threshold search
  *    against a continuum background — see the q_embed_neardup comment for
  *    why LSH prefilters are ruled out by the exact oracle); it runs as a
  *    TILED self-join: equi-join on a T(T+1)/2 tile-pair grid, so the n²/2
  *    dot products spread evenly across tasks with bounded memory and no
  *    corpus broadcast.
  *  - IVF: fixed-k deterministic centroid sample (broadcast O(k·dim),
  *    corpus-size-independent), assignment as a per-row argmax fold over
  *    the broadcast centroid array — a pure map with ZERO exchange on the
  *    corpus side. Every stage is deterministic and SQL-expressible, so
  *    even the approximate pipeline is hash-compared against a DuckDB
  *    replay (plus recall-vs-brute-force contracts in LlmSpec).
  */
object LlmVectorQueries extends QueryPack {

  /** Random-hyperplane sketch parameters. The hyperplane components are
    * RATIONAL constants derived from a Knuth multiplicative hash —
    * m/2^31 - 1 is exactly representable, so both engines materialize
    * bit-identical hyperplanes, the dot products are bit-identical
    * sequential folds, and the sign bits (the sketch) hash-compare
    * exactly. 8 planes = 256 buckets, sized to the test corpus; a
    * production corpus raises the plane count to keep bucket occupancy
    * near O(corpus / 2^planes) — `annLsh` takes it as a parameter and
    * LlmSpec asserts the recall contract at both 8 and 16 planes. */
  private[graft] val SketchPlanes = 8
  private val Dim = 64
  private[graft] def hyper(j: Int, k: Int): Double =
    ((2654435761L * (j * Dim + k + 1)) % 4294967296L) / 2147483648.0 - 1.0

  private[graft] def sketchCol(v: Column, planes: Int): Column =
    (0 until planes).map { j =>
      val h = typedlit((0 until Dim).map(k => hyper(j, k)))
      when(dot(v, h) >= 0.0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** XOR masks enumerating the hamming<=2 neighborhood of a sketch:
    * 1 + p + p(p-1)/2 probe buckets (37 of 256 at 8 planes, 137 of 65536
    * at 16 — the probed FRACTION of the key space shrinks as the plane
    * count scales up with the corpus). */
  private[graft] def probeMasks(planes: Int): Seq[Long] = {
    val single = (0 until planes).map(1L << _)
    val pairs = for {
      a <- 0 until planes; b <- (a + 1) until planes
    } yield (1L << a) | (1L << b)
    0L +: (single ++ pairs)
  }

  /** Corpus with the norm precomputed ONCE per vector (sqrt of the sum of
    * squares): per-pair cosine then needs only the dot product. Because
    * `sqrt(na)*sqrt(nb)` is exactly the op sequence DuckDB applies, the
    * precomputation changes cost, not bits. */
  private def emb(s: SparkSession, d: String): DataFrame = {
    graft.functions.register(s)
    Tables.embeddings(s, d).select(
      col("vec_id"),
      asDoubles(col("embedding")).as("v"),
      sqrt(norm2(asDoubles(col("embedding")))).as("nrm"))
  }

  /** Assign each corpus row (column `v`) to its argmax-cosine centroid —
    * as a PER-ROW FOLD over the broadcast centroid array, not a join.
    * `centroids` (c_id, cv) collapses to ONE array row, broadcast
    * O(k·dim); the corpus side is then a pure map with ZERO exchange
    * (the earlier join+groupBy argmax amplified the corpus 32x into a
    * full shuffle carrying vector payloads — PlanSpec now guards the
    * streamed side of this plan against any Exchange). Ties on equal
    * cosine resolve to the HIGHEST c_id (lexicographic struct max),
    * mirrored in the oracle as ORDER BY cos DESC, c_id DESC. */
  private[graft] def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val centArr = centroids.agg(
      array_sort(collect_list(struct(col("c_id"), col("cv")))).as("cents"))
    corpus.crossJoin(broadcast(centArr))
      .withColumn("cell",
        aggregate(col("cents"),
          struct(lit(-2.0).as("cos"), lit(-1L).as("c_id")),
          (acc, c) => greatest(acc,
            struct(cosine(col("v"), c.getField("cv")).as("cos"),
                   c.getField("c_id").as("c_id"))))
          .getField("c_id"))
      .drop("cents")
  }

  /** Deterministic IVF model shared by q_ann_ivf and q_dedup_semantic:
    * FIXED-k k-means centroids, trained with one Lloyd round over a
    * FIXED-SIZE hash sample: seeds = first k vectors by a Knuth
    * multiplicative hash of vec_id (NOT xxhash64 — this rule runs
    * verbatim in DuckDB, making the whole pipeline oracle-replayable;
    * the id is reduced mod 2^31 before the multiply so the hash stays
    * total for any 64-bit id — 2^31 * 2654435761 < Long.Max, no ANSI
    * overflow). Both k and the training-set size are
    * corpus-size-independent, so the broadcast stays O(k·dim) and the
    * training cost O(sample·k) at any corpus scale. Returns
    * (centroids, full-corpus assignment), both localCheckpointed: the
    * model artifacts a real deployment persists at index-build time,
    * here materialized once because each feeds two consuming branches. */
  private def ivfModel(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val corpus = emb(s, d)
    val k = 32
    val maxTrain = 1024
    def knuth(c: Column): Column = Hashing.knuth(c)
    val seeds = corpus
      .orderBy(knuth($"vec_id"), $"vec_id")
      .limit(k)
      .select($"vec_id".as("c_id"), $"v".as("cv"))
    val train = corpus
      .orderBy(knuth($"vec_id" + 7), $"vec_id")
      .limit(maxTrain)
      .select($"vec_id", $"v")
    // one Lloyd round: assign the sample to seed cells (per-row argmax
    // fold, no shuffle), then the per-dimension mean as a SORTED
    // sequential fold — deterministic bits, replayed in the oracle via
    // list_reduce over list(ev ORDER BY vec_id)
    val trainAssigned = assignCells(train, seeds)
    val centroids = trainAssigned
      .groupBy($"cell")
      .agg(array_sort(collect_list(struct($"vec_id", $"v"))).as("vs"))
      .select($"cell".as("c_id"),
        transform(sequence(lit(1), lit(Dim)), i =>
          aggregate($"vs", lit(0.0), (a, e) => a + element_at(e.getField("v"), i))
            / size($"vs")).as("cv"))
      // lazy (r17): both model artifacts' consumers run under the
      // caller's single action; lazy still truncates lineage + caches
      // on first materialization, without a separate scheduled job each
      .localCheckpoint(eager = false)
    // assignment pass: per-row argmax fold, zero corpus Exchange
    val assigned = assignCells(corpus, centroids).localCheckpoint(eager = false)
    (centroids, assigned)
  }

  /** The SemDeDup screen over the shared IVF model: (vec_id, cell, rnk,
    * keep). Shared by q_dedup_semantic and the multimodal pipeline. */
  private[queries] def semanticScreen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (centroids, assigned) = ivfModel(s, d)
    val ranked = assigned
      .join(broadcast(centroids), $"cell" === $"c_id")
      .select($"vec_id", $"v", $"nrm", $"cell",
        cosine($"v", $"cv").as("ccos"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"cell").orderBy($"ccos".desc, $"vec_id")))
      .localCheckpoint(eager = false) // feeds both sides of the in-cell pair join
    val dropped = ranked.as("a")
      .join(ranked.as("b"),
        col("a.cell") === col("b.cell") && col("a.rnk") < col("b.rnk") &&
          dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")) >= 0.35)
      .select(col("b.vec_id").as("vec_id")).distinct()
      .withColumn("dup", lit(true))
    ranked.join(dropped, Seq("vec_id"), "left")
      .select($"vec_id", asLong($"cell").as("cell"), asLong($"rnk").as("rnk"),
        $"dup".isNull.as("keep"))
  }

  /** IVF query serving over (codebook, cell-assigned postings): probe
    * the top-8 cells per query by centroid cosine, then rank candidates
    * from the probed cells only (~1/4 of the brute-force scan; recall
    * measured and asserted in LlmSpec). Shared verbatim by q_ann_ivf
    * (in-memory model) and q_ann_ivf_persisted (reloaded artifacts). */
  private def ivfServe(s: SparkSession, centroids: DataFrame,
                       assigned: DataFrame): DataFrame = {
    import s.implicits._
    val probes = assigned.filter($"vec_id" < 50)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
      .join(broadcast(centroids))
      .select($"q_id", $"qv", $"qn", $"c_id", cosine($"qv", $"cv").as("ccos"))
      .withColumn("pr", row_number().over(
        Window.partitionBy($"q_id").orderBy($"ccos".desc, $"c_id")))
      .filter($"pr" <= 8)
      .select($"q_id", $"qv", $"qn", $"c_id".as("cell"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"b_id")
    probes.join(assigned.select($"vec_id".as("b_id"), $"v".as("bv"),
        $"nrm".as("bn"), $"cell"), Seq("cell"))
      .filter($"q_id" =!= $"b_id")
      .select($"q_id", $"b_id", (dot($"qv", $"bv") / ($"qn" * $"bn")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"q_id", asLong($"rk").as("rk"), $"b_id", $"cos")
      .orderBy($"q_id", $"rk")
  }

  /** Persisted IVF index artifacts, written once per JVM per sf dir:
    * centroid codebook + postings physically partitioned by cell (the
    * ingest-side index build; queries then read artifacts, never
    * re-train). */
  private val ivfDirs = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def ivfIndexDir(s: SparkSession, d: String): String =
    ivfDirs.computeIfAbsent(d, { _ =>
      val out = graft.TempDirs.create("graft_ivf")
      val (centroids, assigned) = ivfModel(s, d)
      centroids.write.mode("overwrite").parquet(s"$out/centroids")
      assigned.select(col("vec_id"), col("v"), col("nrm"), col("cell"))
        .write.mode("overwrite").partitionBy("cell").parquet(s"$out/assigned")
      out
    })

  /** LSH-bucketed ANN at a given plane count (the 100 TB scale knob):
    * candidates from an EQUI-join on the sketch key, probing the
    * hamming<=2 neighborhood of each query's sketch. */
  private[graft] def annLsh(s: SparkSession, d: String, planes: Int): DataFrame = {
    import s.implicits._
    val corpus = emb(s, d).withColumn("sketch", sketchCol($"v", planes))
    val queries = corpus.filter($"vec_id" < 50)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"), $"sketch".as("qs"))
    val probes = queries
      .select($"q_id", $"qv", $"qn", $"qs",
        explode(typedlit(probeMasks(planes))).as("mask"))
      .select($"q_id", $"qv", $"qn", $"qs".bitwiseXOR($"mask").as("sketch"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"b_id")
    probes.join(
        corpus.select($"vec_id".as("b_id"), $"v".as("bv"), $"nrm".as("bn"), $"sketch"),
        Seq("sketch"))
      .filter($"q_id" =!= $"b_id")
      .select($"q_id", $"b_id", (dot($"qv", $"bv") / ($"qn" * $"bn")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= 5)
      .select($"q_id", asLong($"rk").as("rk"), $"b_id", $"cos")
      .orderBy($"q_id", $"rk")
  }

  /** Brute-force cosine top-k for query set vec_id < 50 — the exact
    * baseline every ANN variant is graded against. Broadcast query block
    * x one partitioned corpus scan, partial top-k per partition under the
    * rank window; no corpus self-shuffle (the GEMM-shaped pattern). */
  private[graft] def cosineRanked(s: SparkSession, d: String, k: Int): DataFrame = {
    import s.implicits._
    val corpus = emb(s, d).select($"vec_id".as("b_id"), $"v".as("bv"), $"nrm".as("bn"))
    val queries = emb(s, d).filter($"vec_id" < 50)
      .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"b_id")
    corpus.join(broadcast(queries), $"q_id" =!= $"b_id")
      .select($"q_id", $"b_id", (dot($"qv", $"bv") / ($"qn" * $"bn")).as("cos"))
      .withColumn("rk", row_number().over(w))
      .filter($"rk" <= k)
      .select($"q_id", asLong($"rk").as("rk"), $"b_id", $"cos")
      .orderBy($"q_id", $"rk")
  }

  /** Build the once-per-JVM persisted IVF index (train + partition the
    * postings) outside any timed gate (r16 directive #6). */
  override def warm(s: SparkSession, d: String): Unit = {
    ivfIndexDir(s, d)
    ()
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- brute-force cosine top-5 for query set vec_id < 50 ----
    "q_ann_cosine_topk" -> { (s, d) => cosineRanked(s, d, 5) },

    // ---- hard-negative mining for contrastive training ----
    // For each anchor (query) vector, the top-5 most-cosine-similar
    // corpus vectors with a DIFFERENT label — the "hard negatives" a
    // contrastive/embedding trainer pairs with each anchor. Same scan
    // shape as q_ann_cosine_topk (broadcast anchor block x one corpus
    // pass, per-partition partial top-k under the rank window); the
    // label-inequality predicate rides in the join condition, so
    // same-label rows are rejected by an int compare before any
    // 64-term dot product is evaluated.
    "q_mine_hard_negatives" -> { (s, d) =>
      import s.implicits._
      graft.functions.register(s)
      val base = Tables.embeddings(s, d).select(
        $"vec_id", asDoubles($"embedding").as("v"),
        sqrt(norm2(asDoubles($"embedding"))).as("nrm"), $"label")
      val corpus = base.select($"vec_id".as("b_id"), $"v".as("bv"),
        $"nrm".as("bn"), $"label".as("b_label"))
      val anchors = base.filter($"vec_id" < 50)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"),
          $"label".as("q_label"))
      val w = Window.partitionBy($"q_id").orderBy($"cos".desc, $"b_id")
      corpus.join(broadcast(anchors),
          $"q_id" =!= $"b_id" && $"q_label" =!= $"b_label")
        .select($"q_id", $"b_id", asLong($"b_label").as("neg_label"),
          (dot($"qv", $"bv") / ($"qn" * $"bn")).as("cos"))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" <= 5)
        .select($"q_id", asLong($"rk").as("rk"), $"b_id", $"neg_label", $"cos")
        .orderBy($"q_id", $"rk")
    },

    // ---- embedding-cosine near-duplicate pairs (threshold 0.35) ----
    // Tiled exact self-join. The corpus's pairwise-cosine distribution is
    // a smooth continuum through 0.35 (156 of 271 qualifying pairs sit in
    // [0.34, 0.36) at sf0.01), so NO probabilistic prefilter — including
    // random-hyperplane LSH bands — can guarantee the 100% recall the
    // exact-hash oracle gate requires: at cos=0.35 a hyperplane bit
    // agrees only with p~0.61, putting any (b, r) banding's miss rate for
    // borderline pairs at 1e-2..1e-3 per pair (the same S-curve fragility
    // ADVICE.md flags for the minhash gate). Exact threshold-search this
    // close to the background IS quadratic in comparisons; the scale
    // problem to solve is DISTRIBUTION, not asymptotics. Shape: hash each
    // vector into one of T tiles, replicate each side to its row/column
    // of the T(T+1)/2 tile-pair grid, equi-join on the (ta, tb) pair key.
    // Work is n^2/2 dots spread over T(T+1)/2 independent shuffle
    // partitions, each task bounded by 2 tiles of vectors in memory —
    // no corpus broadcast, no nested-loop join, no driver involvement.
    // T scales as sqrt(corpus/targetTileRows) at 100 TB.
    "q_embed_neardup" -> { (s, d) =>
      import s.implicits._
      val T = 16
      val tp = s.range(T.toLong * T)
        .select(($"id" / T).cast("int").as("ta"), ($"id" % T).cast("int").as("tb"))
        .filter($"ta" <= $"tb")
      val e = emb(s, d).withColumn("tile", pmod(xxhash64($"vec_id"), lit(T)).cast("int"))
      val a = e.join(broadcast(tp), $"tile" === $"ta")
        .select($"ta", $"tb", $"vec_id".as("a_id"), $"v".as("av"), $"nrm".as("an"))
      val b = e.join(broadcast(tp), $"tile" === $"tb")
        .select($"ta".as("bta"), $"tb".as("btb"), $"vec_id".as("b_id"), $"v".as("bv"), $"nrm".as("bn"))
      // same-tile pairs (ta == tb) dedup by id order; cross-tile pairs
      // appear exactly once by grid construction (ta <= tb)
      a.join(b, $"ta" === $"bta" && $"tb" === $"btb" &&
               ($"ta" < $"tb" || $"a_id" < $"b_id"))
        .select(
          least($"a_id", $"b_id").as("a_id"),
          greatest($"a_id", $"b_id").as("b_id"),
          (dot($"av", $"bv") / ($"an" * $"bn")).as("cos"))
        .filter($"cos" >= 0.35)
        .orderBy($"a_id", $"b_id")
    },

    // ---- unit-normalization (the standard embedding pipeline step) ----
    "q_embed_normalize" -> { (s, d) =>
      import s.implicits._
      emb(s, d).select(
        $"vec_id",
        round($"nrm", 6).as("norm"),
        round(element_at($"v", 1) / $"nrm", 6).as("first_normalized"))
        .orderBy($"vec_id")
    },

    // ---- int8 scalar quantization (SQ8) + reconstruction error ----
    // The third compression point on the ANN storage curve (exact float
    // -> SQ8 4x -> PQ 32x): per-DIMENSION min/max train a 256-level
    // uniform quantizer, codes = floor((x-mn)/(mx-mn)*255) clamped, and
    // dequantization reconstructs at bucket centers (mn+(c+.5)*step).
    // Shape at 100 TB: training is one posexplode + 64-row aggregate
    // (map-side combined, shuffle carries dim rows, not vectors); the
    // model collapses to a single broadcast row (the assignCells
    // pattern) so encoding is a pure narrow map with zero corpus
    // exchange. Every arithmetic op is IEEE +,-,*,/ and floor — no libm
    // — so codes AND the reconstruction SSE hash-compare raw, unrounded.
    "q_embed_sq8" -> { (s, d) =>
      import s.implicits._
      val e = emb(s, d).select($"vec_id", $"v")
      val dims = e.select(posexplode($"v").as(Seq("dim", "x")))
        .groupBy($"dim").agg(min($"x").as("mn"), max($"x").as("mx"))
      val model = dims.agg(
        transform(array_sort(collect_list(struct($"dim", $"mn"))),
          r => r("mn")).as("mns"),
        transform(array_sort(collect_list(struct($"dim", $"mx"))),
          r => r("mx")).as("mxs"))
      val coded = e.crossJoin(broadcast(model))
        .withColumn("codes", transform(sequence(lit(1), size($"v")), i => {
          val x = element_at($"v", i)
          val mn = element_at($"mns", i)
          val mx = element_at($"mxs", i)
          when(mx === mn, lit(0L))
            .otherwise(least(floor((x - mn) / (mx - mn) * 255.0), lit(255L)))
        }))
        .withColumn("err", transform(sequence(lit(1), size($"v")), i => {
          val mn = element_at($"mns", i)
          val mx = element_at($"mxs", i)
          element_at($"v", i) -
            (mn + (element_at($"codes", i) + 0.5) * (mx - mn) / 256.0)
        }))
      coded.select(
        $"vec_id",
        asLong(element_at($"codes", 1)).as("code_first"),
        asLong(aggregate($"codes", lit(0L), (a, c) => a + c)).as("code_sum"),
        graft.functions.VectorExprs.dotProduct($"err", $"err").as("sse"))
        .orderBy($"vec_id")
    },

    // ---- random-hyperplane LSH sketch (hash-exact across engines) ----
    "q_embed_lsh_sketch" -> { (s, d) =>
      import s.implicits._
      emb(s, d)
        .select($"vec_id", sketchCol($"v", SketchPlanes).as("sketch"))
        .orderBy($"vec_id")
    },

    // ---- LSH-bucketed ANN: sketch buckets + hamming<=2 multi-probe ----
    // The second ANN scale path beside IVF: candidates come from an
    // EQUI-join on the sketch key (shuffle on an 8-bit key, bucket sizes
    // ~ corpus/256), probing the 37-bucket hamming<=2 neighborhood of
    // each query's sketch. Deterministic end to end, so the oracle
    // replays the whole pipeline (sketch bits + hamming join + top-5) in
    // SQL; recall vs brute force additionally asserted in LlmSpec at the
    // 8- and 16-plane settings.
    "q_ann_lsh" -> { (s, d) => annLsh(s, d, SketchPlanes) },

    // ---- IVF-probed ANN (scale path; oracle-replayed AND recall-tested) ----
    "q_ann_ivf" -> { (s, d) =>
      val (centroids, assigned) = ivfModel(s, d)
      ivfServe(s, centroids, assigned)
    },

    // ---- IVF index persistence: build at ingest, serve from disk ----
    // The deployment shape of ANN at 100 TB: the index artifacts
    // (centroid codebook + cell-partitioned postings) are built ONCE at
    // ingest and PERSISTED; query serving never re-trains — it reads
    // the codebook (O(k·dim)) and joins the probed cells against the
    // posting layout, which is physically partitioned BY CELL so a
    // probed query touches cell directories, not the corpus. Identical
    // results to q_ann_ivf (the model is deterministic), so the same
    // oracle replay grades both the builder and the serve-from-disk
    // path; what this query adds is the round-trip through the
    // persisted artifact (schema, layout, reload) under the hash gate.
    "q_ann_ivf_persisted" -> { (s, d) =>
      import s.implicits._
      val dir = ivfIndexDir(s, d)
      val centroids = s.read.parquet(s"$dir/centroids")
      val assigned = s.read.parquet(s"$dir/assigned")
        .withColumn("cell", $"cell".cast("long"))
      ivfServe(s, centroids, assigned)
    },

    // ---- ANN quality eval: recall@10 vs nprobe (the tuning curve) ----
    // The evaluation harness every ANN deployment runs before picking its
    // speed/recall operating point: recall@10 of the IVF index against
    // the exact brute-force top-10, at nprobe = 1, 2, 4, 8. One probe
    // ranking pass (pr <= max nprobe) is shared by all curve points —
    // each nprobe setting is a PREFIX of the same probe list, so the
    // curve costs one small cross join on the probe table, not four
    // re-plans. The exact baseline is the one corpus scan cosineRanked
    // already implements; candidate ranking fans out over (nprobe, query)
    // but candidates stay cell-sized. Fully deterministic (shared IVF
    // model), so the whole curve — counts AND ratios — hash-compares
    // against the DuckDB replay; no recall-contract weakening needed.
    "q_ann_recall_curve" -> { (s, d) =>
      import s.implicits._
      val (centroids, assigned) = ivfModel(s, d)
      val exact = cosineRanked(s, d, 10).select($"q_id", $"b_id")
      val probes = assigned.filter($"vec_id" < 50)
        .select($"vec_id".as("q_id"), $"v".as("qv"), $"nrm".as("qn"))
        .join(broadcast(centroids))
        .select($"q_id", $"qv", $"qn", $"c_id",
          cosine($"qv", $"cv").as("ccos"))
        .withColumn("pr", row_number().over(
          Window.partitionBy($"q_id").orderBy($"ccos".desc, $"c_id")))
        .filter($"pr" <= 8)
      val nps = Seq(1L, 2L, 4L, 8L).toDF("np")
      val cand = probes.crossJoin(broadcast(nps)).filter($"pr" <= $"np")
        .select($"np", $"q_id", $"qv", $"qn", $"c_id".as("cell"))
        .join(assigned.select($"vec_id".as("b_id"), $"v".as("bv"),
          $"nrm".as("bn"), $"cell"), Seq("cell"))
        .filter($"q_id" =!= $"b_id")
        .select($"np", $"q_id", $"b_id",
          (dot($"qv", $"bv") / ($"qn" * $"bn")).as("cos"))
      val ranked = cand.withColumn("rk", row_number().over(
          Window.partitionBy($"np", $"q_id").orderBy($"cos".desc, $"b_id")))
        .filter($"rk" <= 10)
        .select($"np", $"q_id", $"b_id")
      val hits = ranked.join(exact, Seq("q_id", "b_id"))
        .groupBy($"np").agg(count(lit(1)).as("h"))
      val denom = exact.agg(count(lit(1)).as("n_exact"))
      nps.join(hits, Seq("np"), "left").crossJoin(broadcast(denom))
        .select(asLong($"np").as("nprobe"),
          asLong(coalesce($"h", lit(0L))).as("hits"),
          (coalesce($"h", lit(0L)).cast("double") / $"n_exact").as("recall"))
        .orderBy($"nprobe")
    },

    // ---- ANN ranking quality: NDCG@5 for both index types ----
    // The rank-aware companion to q_ann_recall_curve: recall counts set
    // overlap; NDCG grades ORDER. Graded relevance comes from the exact
    // cosine ranking (rel = 11 - exact_rank over the top-10, else 0);
    // both ANN systems (LSH multi-probe, IVF nprobe=8) are scored as
    // sum(rel_i * w_i) / ideal with the standard 1/log2(pos+1) discount.
    // Scale shape: the corpus-sized work is the three retrievals
    // (exact baseline + the two index probes, each already analyzed);
    // the NDCG arithmetic runs over O(queries x k) rows. Determinism:
    // discounts are computed IN-ENGINE as round(1/log2(pos+1), 6) into
    // DECIMAL (every discount sits >= 3.6e-9 from its rounding boundary
    // — far beyond a cross-libm log2 ulp), sums are exact decimal, and
    // the final ratio divides two exactly-representable values.
    "q_ann_ndcg" -> { (s, d) =>
      import s.implicits._
      val exact = cosineRanked(s, d, 10)
        .select($"q_id", $"b_id", (lit(11L) - $"rk").as("rel"))
      val (cents, assigned) = ivfModel(s, d)
      val sys = annLsh(s, d, SketchPlanes)
        .select(lit("lsh").as("system"), $"q_id", $"rk", $"b_id")
        .union(ivfServe(s, cents, assigned)
          .select(lit("ivf").as("system"), $"q_id", $"rk", $"b_id"))
      val dcg = sys.join(exact, Seq("q_id", "b_id"), "left")
        .withColumn("rel", coalesce($"rel", lit(0L)))
        .withColumn("w",
          round(lit(1.0) / log2($"rk" + lit(1)), 6).cast("decimal(28,12)"))
        .groupBy($"system", $"q_id").agg(sum($"w" * $"rel").as("dcg"))
      val ideal = exact
        .withColumn("i", row_number().over(
          Window.partitionBy($"q_id").orderBy($"rel".desc)))
        .filter($"i" <= 5)
        .withColumn("w",
          round(lit(1.0) / log2($"i" + lit(1)), 6).cast("decimal(28,12)"))
        .groupBy($"q_id").agg(sum($"w" * $"rel").as("idcg"))
      dcg.join(ideal, Seq("q_id"))
        .select($"system", $"q_id",
          round($"dcg".cast("double") / $"idcg".cast("double"), 4).as("ndcg"))
        .orderBy($"system", $"q_id")
    },

    // ---- k-means training loop (3 Lloyd rounds to a usable codebook) ----
    // The iterative-ML-training shape on Spark: the one-round Lloyd step
    // the IVF index uses, LOOPED — each round assigns the fixed 1024-
    // vector training sample to the current centroids (per-row argmax
    // fold over the broadcast codebook, zero sample Exchange) and
    // re-estimates centroids as sorted sequential-fold means, with a
    // localCheckpoint per round cutting lineage (the Pregel pattern).
    // Training cost is O(sample x k x rounds), corpus-size-independent;
    // the corpus appears exactly twice — the sample draw and the final
    // full-corpus assignment that grades the codebook (cell sizes +
    // centroid digests). Every round is deterministic, so the WHOLE
    // 3-round trajectory hash-compares against a DuckDB replay with the
    // rounds unrolled as generated CTEs.
    "q_kmeans_train" -> { (s, d) =>
      import s.implicits._
      val corpus = emb(s, d)
      def knuth(c: Column): Column = Hashing.knuth(c)
      val k = 32
      val seeds = corpus.orderBy(knuth($"vec_id"), $"vec_id").limit(k)
        .select($"vec_id".as("c_id"), $"v".as("cv"))
      val train = corpus.orderBy(knuth($"vec_id" + 7), $"vec_id").limit(1024)
        .select($"vec_id", $"v").localCheckpoint(eager = false)
      var cents = seeds
      for (_ <- 1 to 3) {
        cents = assignCells(train, cents)
          .groupBy($"cell")
          .agg(array_sort(collect_list(struct($"vec_id", $"v"))).as("vs"))
          .select($"cell".as("c_id"),
            transform(sequence(lit(1), lit(Dim)), i =>
              aggregate($"vs", lit(0.0),
                (a, e) => a + element_at(e.getField("v"), i)) / size($"vs"))
              .as("cv"))
          .localCheckpoint(eager = false)
      }
      assignCells(corpus, cents)
        .groupBy($"cell").agg(count(lit(1)).as("n_members"))
        .join(cents.withColumnRenamed("c_id", "cell"), Seq("cell"))
        .select(asLong($"cell").as("cell"),
          asLong($"n_members").as("n_members"),
          element_at($"cv", 1).as("c_first"),
          aggregate($"cv", lit(0.0), (a, x) => a + x).as("c_sum"))
        .orderBy($"cell")
    },

    // ---- MMR diversified re-rank over the cosine shortlist ----
    // Maximal Marginal Relevance (Carbonell & Goldstein 1998): from each
    // query's top-10 cosine shortlist, greedily pick 5 results balancing
    // relevance against redundancy — pick_i = argmax over remaining of
    // lambda*rel - (1-lambda)*max-sim-to-already-picked, lambda = 1/2.
    // The scale shape: the corpus-sized work is the ONE shortlist scan
    // (cosineRanked); everything after runs over O(queries x k) rows —
    // the within-shortlist pair sims are a k^2-bounded self-join and each
    // of the 4 greedy rounds is an anti-join + max-aggregate + rank
    // window over shortlist-sized data. The selection is fully
    // deterministic (bit-identical cosines, ties to the lower id), so
    // the picked SET and ORDER hash-compare against a DuckDB replay
    // with the greedy rounds unrolled as generated CTEs.
    "q_ann_mmr" -> { (s, d) =>
      import s.implicits._
      val corpus = emb(s, d)
      val sl = cosineRanked(s, d, 10)
        .select($"q_id", $"b_id", $"cos".as("rel"))
        // lazy checkpoints throughout this gate (r17): the greedy loop is
        // a FIXED 4 rounds with no driver-side decision between them, so
        // every checkpointed frame's consumers live under the one final
        // action — eager cuts cost one scheduled job each (12+ per run)
        // for nothing; lazy still truncates lineage and caches on first
        // materialization. Measured (OPTIMIZATION_r17.md, mmr): 2.1-3.1 s -> 1.6-1.8 s
        // steady, identical picks.
        .localCheckpoint(eager = false) // shortlist feeds pairs + every greedy round
      val withV = sl.join(corpus.select($"vec_id".as("b_id"), $"v", $"nrm"),
        Seq("b_id"))
      val pairs = withV.as("x").join(withV.as("y"),
          col("x.q_id") === col("y.q_id") && col("x.b_id") =!= col("y.b_id"))
        .select(col("x.q_id").as("q_id"), col("x.b_id").as("a_id"),
          col("y.b_id").as("c_id"),
          (dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))).as("sim"))
        .localCheckpoint(eager = false) // k^2-bounded; reused by every round
      var selected = sl.withColumn("rn", row_number().over(
          Window.partitionBy($"q_id").orderBy($"rel".desc, $"b_id")))
        .filter($"rn" === 1)
        .select($"q_id", $"b_id", lit(1L).as("pick"))
        .localCheckpoint(eager = false)
      for (i <- 2 to 5) {
        val cand = sl.join(selected.select($"q_id", $"b_id"),
          Seq("q_id", "b_id"), "left_anti")
        val ms = pairs.join(selected.select($"q_id", $"b_id".as("c_id")),
            Seq("q_id", "c_id"))
          .groupBy($"q_id", $"a_id").agg(max($"sim").as("maxsim"))
          .withColumnRenamed("a_id", "b_id")
        val next = cand.join(ms, Seq("q_id", "b_id"))
          .withColumn("mmr", lit(0.5) * $"rel" - lit(0.5) * $"maxsim")
          .withColumn("rn", row_number().over(
            Window.partitionBy($"q_id").orderBy($"mmr".desc, $"b_id")))
          .filter($"rn" === 1)
          .select($"q_id", $"b_id", lit(i.toLong).as("pick"))
        // localCheckpoint per round: selected feeds the next round twice
        // (anti-join + sim lookup) — without the cut the plan doubles
        // per round (the connectedComponents pattern)
        selected = selected.union(next).localCheckpoint(eager = false)
      }
      selected.select($"q_id", $"pick", $"b_id").orderBy($"q_id", $"pick")
    },

    // ---- semantic deduplication (SemDeDup, cluster-scoped) ----
    // The published recipe for embedding dedup at scale (SemDeDup,
    // Abbas et al. 2023, arXiv:2303.09540): k-means-cluster the
    // embeddings, then compare pairs ONLY within a cluster — the cluster
    // structure bounds the quadratic pair work to sum(n_c^2) instead of
    // n^2, and k scales with the corpus to keep cells task-sized. This
    // complements q_embed_neardup: near-dup is the EXACT threshold
    // search (tiled n^2/2, guaranteed recall); SemDeDup is the
    // approximate screen run first at 100 TB, where cross-cluster pairs
    // are accepted misses by design. Model = the shared deterministic
    // IVF clustering. Keep rule: within a cell, rank by
    // cosine-to-centroid (desc, id asc); an item is dropped when ANY
    // higher-ranked cellmate is within cos >= 0.35 — deterministic and
    // order-free. (The paper keeps LOW-centroid-similarity items to
    // bias toward hard examples; the rank direction is a policy knob,
    // the mechanism is identical.) The pair join shuffles on the cell
    // key; vectors cross the wire once per side, no broadcast of the
    // corpus, no driver involvement.
    "q_dedup_semantic" -> { (s, d) =>
      import s.implicits._
      semanticScreen(s, d).orderBy($"vec_id")
    },

    // ---- cluster-balanced diversity sampling ----
    // Topic-balanced subset selection: at most 8 vectors per IVF cell,
    // chosen by a deterministic Knuth-hash order within the cell — the
    // "spread the sample across semantic clusters" op dataset-balancing
    // recipes apply where uniform sampling would mirror the corpus's
    // topic skew. Reuses the shared deterministic IVF model (broadcast
    // O(k·dim), zero-exchange assignment); the only shuffle is the
    // per-cell rank window on (cell, vec_id) — narrow rows. Quota rides
    // a rank, so it is exact per cell, not probabilistic.
    "q_sample_diverse" -> { (s, d) =>
      import s.implicits._
      val (_, assigned) = ivfModel(s, d)
      def knuth(c: Column): Column = Hashing.knuth(c)
      assigned
        .withColumn("rk", row_number().over(
          Window.partitionBy($"cell").orderBy(knuth($"vec_id" + 13), $"vec_id")))
        .filter($"rk" <= 8)
        .select($"vec_id", asLong($"cell").as("cell"), asLong($"rk").as("rk"))
        .orderBy($"vec_id")
    },

    // ---- product-quantization ANN (the memory-compression path) ----
    // Completes the ANN quartet (brute / LSH / IVF / PQ): 64-dim vectors
    // compress to 4 subspace codes of 4 bits' worth each (16 centroids
    // per 16-dim subspace), and search ranks by ASYMMETRIC distance —
    // exact query vs reconstructed corpus — so the corpus can live in
    // RAM at 100 TB scale (32x smaller than raw doubles; the codebook
    // broadcast is O(M*k*subdim), corpus-independent). Training reuses
    // the IVF recipe per subspace: Knuth-hash seeds (offset per
    // subspace), the shared 1024-vector train sample, one Lloyd round
    // with vec_id-sorted mean folds. Encoding is a per-row argmin fold
    // over the broadcast codebook — ZERO corpus exchange. Deterministic
    // end to end: the oracle replays training, encoding, reconstruction
    // and the 64-term ADC fold in SQL, bit-identically.
    "q_ann_pq" -> { (s, d) =>
      import s.implicits._
      val corpus = emb(s, d).localCheckpoint(eager = false)
      val train = corpus
        .orderBy(Hashing.knuth($"vec_id" + 7), $"vec_id")
        .limit(PqTrain)
        .select($"vec_id", $"v")
        .localCheckpoint(eager = false)
      // per-subspace codebooks, FUSED into one plan: the four seed
      // TakeOrdereds union under an `m` tag, the train sample assigns to
      // all four seed sets in one 4x-amplified broadcast pass, and one
      // groupBy (m, cell) takes the Lloyd means — one job chain instead
      // of four (each chain cost ~0.6 s of per-job scheduling at toy
      // scale, and four sequential barriers at any scale)
      val seedArrs = (0 until PqM).map { m =>
        val off = m * PqSubDim
        corpus
          .orderBy(Hashing.knuth($"vec_id" + PqSeedOff(m)), $"vec_id")
          .limit(PqK)
          .select(lit(m).as("m"), $"vec_id".as("c_id"),
            slice($"v", off + 1, PqSubDim).as("cv"))
      }.reduce(_ unionByName _)
        .select($"m", struct($"c_id", $"cv", dot($"cv", $"cv").as("n2")).as("e"))
        .groupBy($"m").agg(array_sort(collect_list($"e")).as("cents"))
      val ta = train.crossJoin(broadcast(seedArrs))
        .withColumn("sub", slice($"v", $"m" * PqSubDim + 1, lit(PqSubDim)))
        .withColumn("sn2", dot($"sub", $"sub"))
        .withColumn("cell",
          aggregate($"cents",
            struct(lit(Double.MaxValue).as("d"), lit(Long.MaxValue).as("c_id")),
            (acc, c) => least(acc,
              struct(
                (($"sn2" - lit(2.0) * dot($"sub", c.getField("cv")))
                  + c.getField("n2")).as("d"),
                c.getField("c_id").as("c_id"))))
            .getField("c_id"))
      val codebooks = ta.groupBy($"m", $"cell")
        .agg(array_sort(collect_list(struct($"vec_id", $"v"))).as("vs"))
        .select($"m", $"cell".as("c_id"),
          transform(sequence(lit(1), lit(PqSubDim)), i =>
            aggregate($"vs", lit(0.0),
              (a, e) => a + element_at(e.getField("v"), i + $"m" * PqSubDim))
              / size($"vs")).as("cv"))
        .localCheckpoint(eager = false)
      // encode: ONE broadcast row carries all four codebooks; each corpus
      // row computes its four argmin cells AND picks up the centroid
      // vectors in the same fold (the accumulator carries cv; the array
      // field never decides the ordering because c_id is unique) — a
      // pure zero-exchange map with no per-subspace join chain
      val cbRow = codebooks
        .select($"m", struct($"c_id", $"cv", dot($"cv", $"cv").as("n2")).as("e"))
        .groupBy($"m").agg(array_sort(collect_list($"e")).as("cents"))
        .agg(array_sort(collect_list(struct($"m", $"cents"))).as("books"))
      val zeros = typedlit(Seq.fill(PqSubDim)(0.0))
      val rvCols = (0 until PqM).map { m =>
        val off = m * PqSubDim
        val cents = element_at($"books", m + 1).getField("cents")
        val sub = slice($"v", off + 1, PqSubDim)
        val sn2 = dot(sub, sub)
        aggregate(cents,
          struct(lit(Double.MaxValue).as("d"), lit(Long.MaxValue).as("c_id"),
            zeros.as("cv")),
          (acc, c) => least(acc,
            struct(
              ((sn2 - lit(2.0) * dot(sub, c.getField("cv")))
                + c.getField("n2")).as("d"),
              c.getField("c_id").as("c_id"),
              c.getField("cv").as("cv"))))
          .getField("cv")
      }
      val recon = corpus.select($"vec_id", $"v").crossJoin(broadcast(cbRow))
        .select($"vec_id".as("b_id"), concat(rvCols: _*).as("recon"))
        .withColumn("rn2", dot($"recon", $"recon"))
      // stage 1 — ADC shortlist: broadcast queries x one pass over the
      // COMPRESSED corpus, top-PqShortlist per query. stage 2 — exact
      // re-rank: fetch the raw vectors for shortlist hits only (the
      // FAISS IVFPQ+refine shape: full vectors touched for 50 rows per
      // query, not the corpus) and rank the final 5 by exact L2. All
      // distances in dot form — d2 = (|a|^2 - 2 a·b) + |b|^2 — so the
      // hot inner product runs through the native codegen DotProduct
      // kernel with precomputed norms; the oracle mirrors the exact
      // formula (ties to the LOWEST c_id everywhere, ORDER BY d2, c_id).
      val queries = corpus.filter($"vec_id" < 50)
        .select($"vec_id".as("q_id"), $"v".as("qv"))
        .withColumn("qn2", dot($"qv", $"qv"))
      val wAdc = Window.partitionBy($"q_id").orderBy($"adist".asc, $"b_id")
      // adist is computed WITH qv in scope, but qv (64 doubles/row) is
      // projected away before the rank window so the 250k-row shuffle
      // carries (q_id, b_id, adist) only — carrying the query vectors
      // through was ~130 MB of shuffle for rows about to be cut to 50
      // per query; the broadcast re-attaches them to the survivors
      val shortlist = recon.join(broadcast(queries))
        .filter($"q_id" =!= $"b_id")
        .select($"q_id", $"b_id",
          (($"qn2" - lit(2.0) * dot($"qv", $"recon")) + $"rn2").as("adist"))
        .withColumn("ar", row_number().over(wAdc))
        .filter($"ar" <= PqShortlist)
        .join(broadcast(queries), "q_id")
        .select($"q_id", $"qv", $"qn2", $"b_id")
      val wExact = Window.partitionBy($"q_id").orderBy($"d2".asc, $"b_id")
      shortlist
        .join(corpus.select($"vec_id".as("b_id"), $"v".as("bv"),
          dot($"v", $"v").as("bn2")), "b_id")
        .select($"q_id", $"b_id",
          (($"qn2" - lit(2.0) * dot($"qv", $"bv")) + $"bn2").as("d2"))
        .withColumn("rk", row_number().over(wExact))
        .filter($"rk" <= 5)
        .select($"q_id", asLong($"rk").as("rk"), $"b_id", $"d2")
        .orderBy($"q_id", $"rk")
    }
  )

  // PQ parameters: 4 subspaces x 16 dims, 16 centroids each; seeds drawn
  // with a per-subspace hash offset so the codebooks decorrelate.
  private[graft] val PqM = 4
  private[graft] val PqSubDim = 16
  private[graft] val PqK = 16
  private[graft] val PqTrain = 1024
  private[graft] val PqSeedOff: Seq[Int] = Seq(11, 24, 37, 50)
  private[graft] val PqShortlist = 50

  /** Generated PQ oracle: per-subspace training (Knuth seeds, one Lloyd
    * round over the vec_id-sorted sample), argmin encoding, centroid
    * reconstruction, ADC shortlist + exact re-rank. Distances mirror
    * the Spark dot form exactly — (|a|^2 - 2 a·b) + |b|^2 — with
    * list_dot_product, which is bit-equal to the codegen kernel's
    * sequential fold (verified; the list_cosine_similarity precedent).
    * The centroid-mean list_reduce starts at the first element where
    * Spark's aggregate starts at 0.0: (0 + t1) = t1 exactly, so bits
    * agree (the IVF oracle precedent). */
  private def pqOracleSql: String = {
    def knuthSql(offset: Int): String =
      s"((((vec_id + $offset) % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296"
    def d2Sql(sn2: String, sub: String, cv: String, cn2: String): String =
      s"(($sn2 - 2.0 * list_dot_product($sub, $cv)) + $cn2)"
    val perSub = (0 until PqM).map { m =>
      val off = m * PqSubDim
      val sliceSql = s"list_slice(ev, ${off + 1}, ${off + PqSubDim})"
      s"""seeds$m AS (
         |  SELECT vec_id AS c_id, cv, list_dot_product(cv, cv) AS n2 FROM (
         |    SELECT vec_id, $sliceSql AS cv
         |    FROM e ORDER BY ${knuthSql(PqSeedOff(m))}, vec_id LIMIT $PqK)),
         |tsub$m AS (
         |  SELECT vec_id, ev, sub, list_dot_product(sub, sub) AS sn2
         |  FROM (SELECT vec_id, ev, $sliceSql AS sub FROM train)),
         |ta$m AS (
         |  SELECT vec_id, ev, c_id AS cell FROM (
         |    SELECT t.vec_id, t.ev, s.c_id,
         |           row_number() OVER (PARTITION BY t.vec_id
         |             ORDER BY ${d2Sql("t.sn2", "t.sub", "s.cv", "s.n2")} ASC,
         |                      s.c_id ASC) AS rn
         |    FROM tsub$m t CROSS JOIN seeds$m s) x WHERE rn = 1),
         |cent$m AS (
         |  SELECT c_id, cv, list_dot_product(cv, cv) AS n2 FROM (
         |    SELECT cell AS c_id,
         |           list_transform(range(1, ${PqSubDim + 1}),
         |             i -> list_reduce(list_transform(vs, v -> v[$off + i]),
         |                              (a, b) -> a + b) / len(vs)) AS cv
         |    FROM (SELECT cell, list(ev ORDER BY vec_id) AS vs
         |          FROM ta$m GROUP BY cell) g)),
         |esub$m AS (
         |  SELECT vec_id, sub, list_dot_product(sub, sub) AS sn2
         |  FROM (SELECT vec_id, $sliceSql AS sub FROM e)),
         |code$m AS (
         |  SELECT vec_id, cv FROM (
         |    SELECT t.vec_id, c.cv,
         |           row_number() OVER (PARTITION BY t.vec_id
         |             ORDER BY ${d2Sql("t.sn2", "t.sub", "c.cv", "c.n2")} ASC,
         |                      c.c_id ASC) AS rn
         |    FROM esub$m t CROSS JOIN cent$m c) x WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    val reconJoin = (0 until PqM).map(m => s"JOIN code$m ON code$m.vec_id = e.vec_id")
      .mkString(" ")
    val reconCat = (0 until PqM).map(m => s"code$m.cv").mkString(" || ")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
       |train AS (
       |  SELECT vec_id, ev FROM e
       |  ORDER BY ${knuthSql(7)}, vec_id LIMIT $PqTrain),
       |$perSub,
       |recon AS (
       |  SELECT b_id, recon, list_dot_product(recon, recon) AS rn2 FROM (
       |    SELECT e.vec_id AS b_id, $reconCat AS recon
       |    FROM e $reconJoin)),
       |qn AS (
       |  SELECT vec_id AS q_id, ev AS qv, list_dot_product(ev, ev) AS qn2
       |  FROM e WHERE vec_id < 50),
       |shortlist AS (
       |  SELECT q_id, qv, qn2, b_id FROM (
       |    SELECT q.q_id, q.qv, q.qn2, b.b_id,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY ((q.qn2 - 2.0 * list_dot_product(q.qv, b.recon))
       |                        + b.rn2) ASC, b.b_id) AS ar
       |    FROM qn q JOIN recon b ON b.b_id != q.q_id) x
       |  WHERE ar <= $PqShortlist),
       |rer AS (
       |  SELECT s.q_id, s.b_id,
       |         ((s.qn2 - 2.0 * list_dot_product(s.qv, bb.ev))
       |           + list_dot_product(bb.ev, bb.ev)) AS d2
       |  FROM shortlist s JOIN e bb ON bb.vec_id = s.b_id)
       |SELECT q_id, rk, b_id, d2 FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |                               ORDER BY d2 ASC, b_id) AS rk
       |  FROM rer) t
       |WHERE rk <= 5
       |ORDER BY q_id, rk""".stripMargin
  }

  /** The IVF-model replay CTEs (corpus, Knuth seeds + train sample, one
    * Lloyd round, full-corpus assignment) shared by the q_ann_ivf and
    * q_dedup_semantic oracles. */
  private[queries] val ivfOracleCtes: String =
    """e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
      |seeds AS (
      |  SELECT vec_id AS c_id, ev AS cv FROM e
      |  ORDER BY (((vec_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 32),
      |train AS (
      |  SELECT vec_id, ev FROM e
      |  ORDER BY ((((vec_id + 7) % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 1024),
      |ta AS (
      |  SELECT vec_id, ev, c_id AS cell FROM (
      |    SELECT t.vec_id, t.ev, s.c_id,
      |           row_number() OVER (PARTITION BY t.vec_id
      |             ORDER BY list_cosine_similarity(t.ev, s.cv) DESC, s.c_id DESC) AS rn
      |    FROM train t CROSS JOIN seeds s) x WHERE rn = 1),
      |cent AS (
      |  SELECT cell AS c_id,
      |         list_transform(range(1, 65),
      |           i -> list_reduce(list_transform(vs, v -> v[i]), (a, b) -> a + b) / len(vs)) AS cv
      |  FROM (SELECT cell, list(ev ORDER BY vec_id) AS vs FROM ta GROUP BY cell) g),
      |assigned AS (
      |  SELECT vec_id, ev, c_id AS cell FROM (
      |    SELECT e.vec_id, e.ev, c.c_id,
      |           row_number() OVER (PARTITION BY e.vec_id
      |             ORDER BY list_cosine_similarity(e.ev, c.cv) DESC, c.c_id DESC) AS rn
      |    FROM e CROSS JOIN cent c) x WHERE rn = 1)""".stripMargin

  /** The IVF serve replay (probe top-8 cells, rank candidates from the
    * probed cells) shared by the q_ann_ivf and q_ann_ivf_persisted
    * oracles. */
  private val ivfServeOracle: String =
    s"""WITH $ivfOracleCtes,
      |probes AS (
      |  SELECT q_id, cell FROM (
      |    SELECT a.vec_id AS q_id, c.c_id AS cell,
      |           row_number() OVER (PARTITION BY a.vec_id
      |             ORDER BY list_cosine_similarity(a.ev, c.cv) DESC, c.c_id) AS pr
      |    FROM (SELECT vec_id, ev FROM assigned WHERE vec_id < 50) a
      |    CROSS JOIN cent c) x
      |  WHERE pr <= 8),
      |cand AS (
      |  SELECT p.q_id, b.vec_id AS b_id, list_cosine_similarity(q.ev, b.ev) AS cos
      |  FROM probes p
      |  JOIN assigned b ON b.cell = p.cell AND b.vec_id != p.q_id
      |  JOIN e q ON q.vec_id = p.q_id)
      |SELECT q_id, rk, b_id, cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, b_id) AS rk
      |  FROM cand) t
      |WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin

  /** The recall-curve replay: same IVF model CTEs, probe list to pr<=8,
    * exact top-10 brute force, then each nprobe grades a prefix of the
    * probe list. Counts are exact integers; the recall ratio is one
    * double division of exact integers — IEEE-identical per engine. */
  private def recallCurveOracle: String =
    s"""WITH $ivfOracleCtes,
       |probes AS (
       |  SELECT q_id, cell, pr FROM (
       |    SELECT a.vec_id AS q_id, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY list_cosine_similarity(a.ev, c.cv) DESC, c.c_id) AS pr
       |    FROM (SELECT vec_id, ev FROM assigned WHERE vec_id < 50) a
       |    CROSS JOIN cent c) x
       |  WHERE pr <= 8),
       |exact AS (
       |  SELECT q_id, b_id FROM (
       |    SELECT q.vec_id AS q_id, b.vec_id AS b_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(q.ev, b.ev) DESC, b.vec_id) AS rk
       |    FROM e q JOIN e b ON q.vec_id < 50 AND b.vec_id != q.vec_id) t
       |  WHERE rk <= 10),
       |nps(np) AS (VALUES (1), (2), (4), (8)),
       |cand AS (
       |  SELECT n.np, p.q_id, b.vec_id AS b_id,
       |         list_cosine_similarity(q.ev, b.ev) AS cos
       |  FROM nps n
       |  JOIN probes p ON p.pr <= n.np
       |  JOIN assigned b ON b.cell = p.cell AND b.vec_id != p.q_id
       |  JOIN e q ON q.vec_id = p.q_id),
       |ranked AS (
       |  SELECT np, q_id, b_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY np, q_id
       |               ORDER BY cos DESC, b_id) AS rk FROM cand) t
       |  WHERE rk <= 10),
       |hits AS (
       |  SELECT np, count(*) AS h
       |  FROM ranked JOIN exact USING (q_id, b_id) GROUP BY np),
       |nx AS (SELECT count(*) AS n_exact FROM exact)
       |SELECT CAST(np AS BIGINT) AS nprobe,
       |       CAST(coalesce(h, 0) AS BIGINT) AS hits,
       |       CAST(coalesce(h, 0) AS DOUBLE) / n_exact AS recall
       |FROM nps LEFT JOIN hits USING (np) CROSS JOIN nx
       |ORDER BY nprobe""".stripMargin

  /** The NDCG replay: IVF serve + LSH multi-probe rankings (both from
    * their existing replay recipes), exact top-10 relevance, in-engine
    * 6-dp log2 discounts into DECIMAL sums, final ratio over exact
    * values. */
  private def ndcgOracle: String =
    s"""WITH $ivfOracleCtes,
       |probes AS (
       |  SELECT q_id, cell FROM (
       |    SELECT a.vec_id AS q_id, c.c_id AS cell,
       |           row_number() OVER (PARTITION BY a.vec_id
       |             ORDER BY list_cosine_similarity(a.ev, c.cv) DESC, c.c_id) AS pr
       |    FROM (SELECT vec_id, ev FROM assigned WHERE vec_id < 50) a
       |    CROSS JOIN cent c) x
       |  WHERE pr <= 8),
       |ivfr AS (
       |  SELECT q_id, rk, b_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, b_id) AS rk
       |    FROM (SELECT p.q_id, b.vec_id AS b_id,
       |                 list_cosine_similarity(q.ev, b.ev) AS cos
       |          FROM probes p
       |          JOIN assigned b ON b.cell = p.cell AND b.vec_id != p.q_id
       |          JOIN e q ON q.vec_id = p.q_id) c) t
       |  WHERE rk <= 5),
       |sk AS (SELECT vec_id, ev,
       |  CAST($sketchBitsSql AS BIGINT) AS sketch
       |FROM e),
       |lshr AS (
       |  SELECT q_id, rk, b_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, b_id) AS rk
       |    FROM (SELECT q.vec_id AS q_id, b.vec_id AS b_id,
       |                 list_cosine_similarity(q.ev, b.ev) AS cos
       |          FROM sk q JOIN sk b
       |            ON q.vec_id < 50 AND b.vec_id != q.vec_id
       |           AND bit_count(xor(q.sketch, b.sketch)) <= 2) c) t
       |  WHERE rk <= 5),
       |exact AS (
       |  SELECT q_id, b_id, 11 - rk AS rel FROM (
       |    SELECT q.vec_id AS q_id, b.vec_id AS b_id,
       |           row_number() OVER (PARTITION BY q.vec_id
       |             ORDER BY list_cosine_similarity(q.ev, b.ev) DESC, b.vec_id) AS rk
       |    FROM e q JOIN e b ON q.vec_id < 50 AND b.vec_id != q.vec_id) t
       |  WHERE rk <= 10),
       |sys AS (
       |  SELECT 'ivf' AS system, q_id, rk, b_id FROM ivfr
       |  UNION ALL
       |  SELECT 'lsh' AS system, q_id, rk, b_id FROM lshr),
       |dcg AS (
       |  SELECT system, sys.q_id AS q_id,
       |         sum(CAST(round(1.0 / log2(rk + 1), 6) AS DECIMAL(28,12))
       |             * coalesce(rel, 0)) AS dcg
       |  FROM sys LEFT JOIN exact
       |    ON exact.q_id = sys.q_id AND exact.b_id = sys.b_id
       |  GROUP BY 1, 2),
       |ideal AS (
       |  SELECT q_id,
       |         sum(CAST(round(1.0 / log2(i + 1), 6) AS DECIMAL(28,12)) * rel) AS idcg
       |  FROM (SELECT q_id, rel, row_number() OVER (PARTITION BY q_id
       |               ORDER BY rel DESC) AS i FROM exact) x
       |  WHERE i <= 5 GROUP BY q_id)
       |SELECT system, q_id,
       |       round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 4) AS ndcg
       |FROM dcg JOIN ideal USING (q_id)
       |ORDER BY system, q_id""".stripMargin

  /** The k-means replay: Knuth seeds + train sample, then 3 Lloyd rounds
    * unrolled (assign = argmax-cosine with ties to the HIGHER c_id,
    * centroids = sorted sequential-fold means — the ivfOracleCtes
    * recipe), then the corpus-wide assignment graded by cell size and
    * centroid digests. list_reduce starts at the first element where
    * Spark's aggregate starts at 0.0: (0 + t1) = t1 exactly. */
  private def kmeansOracle: String = {
    def assignSql(src: String, cents: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, ev, c_id AS cell FROM (
         |    SELECT t.vec_id, t.ev, s.c_id,
         |           row_number() OVER (PARTITION BY t.vec_id
         |             ORDER BY list_cosine_similarity(t.ev, s.cv) DESC, s.c_id DESC) AS rn
         |    FROM $src t CROSS JOIN $cents s) x WHERE rn = 1)""".stripMargin
    def centSql(asg: String, out: String): String =
      s"""$out AS (
         |  SELECT cell AS c_id,
         |         list_transform(range(1, 65),
         |           i -> list_reduce(list_transform(vs, v -> v[i]), (a, b) -> a + b) / len(vs)) AS cv
         |  FROM (SELECT cell, list(ev ORDER BY vec_id) AS vs FROM $asg GROUP BY cell) g)""".stripMargin
    val rounds = (1 to 3).map { r =>
      val prev = if (r == 1) "seeds" else s"c${r - 1}"
      assignSql("train", prev, s"a$r") + ",\n" + centSql(s"a$r", s"c$r")
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS c_id, ev AS cv FROM e
       |  ORDER BY (((vec_id % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 32),
       |train AS (
       |  SELECT vec_id, ev FROM e
       |  ORDER BY ((((vec_id + 7) % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296, vec_id LIMIT 1024),
       |$rounds,
       |${assignSql("e", "c3", "af")},
       |sizes AS (SELECT cell, count(*) AS n_members FROM af GROUP BY cell)
       |SELECT CAST(sizes.cell AS BIGINT) AS cell,
       |       CAST(n_members AS BIGINT) AS n_members,
       |       cv[1] AS c_first,
       |       list_reduce(cv, (a, b) -> a + b) AS c_sum
       |FROM sizes JOIN c3 ON c3.c_id = sizes.cell
       |ORDER BY sizes.cell""".stripMargin
  }

  /** The MMR replay: shortlist + within-shortlist pair sims, then the 4
    * greedy rounds unrolled as generated CTEs (sel_i = the argmax of
    * 0.5*rel - 0.5*max-sim-to-selected over the remaining candidates;
    * all_i accumulates). Doubles are the same bit-identical cosines the
    * other vector oracles rely on; the output carries only ids + order. */
  private def mmrOracle: String = {
    val rounds = (2 to 5).map { i =>
      s"""cand$i AS (
         |  SELECT sl.* FROM sl
         |  LEFT JOIN all${i - 1} a ON a.q_id = sl.q_id AND a.b_id = sl.b_id
         |  WHERE a.b_id IS NULL),
         |ms$i AS (
         |  SELECT p.q_id, p.a_id AS b_id, max(p.sim) AS maxsim
         |  FROM pairs p JOIN all${i - 1} a ON a.q_id = p.q_id AND a.b_id = p.c_id
         |  GROUP BY p.q_id, p.a_id),
         |sel$i AS (
         |  SELECT q_id, b_id, $i AS pick FROM (
         |    SELECT c.q_id, c.b_id,
         |           row_number() OVER (PARTITION BY c.q_id
         |             ORDER BY (0.5 * c.rel - 0.5 * m.maxsim) DESC, c.b_id) AS rn
         |    FROM cand$i c JOIN ms$i m ON m.q_id = c.q_id AND m.b_id = c.b_id) t
         |  WHERE rn = 1),
         |all$i AS (SELECT * FROM all${i - 1} UNION ALL SELECT * FROM sel$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
       |sl AS (
       |  SELECT q_id, b_id, rel FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |               ORDER BY rel DESC, b_id) AS rk
       |    FROM (SELECT q.vec_id AS q_id, b.vec_id AS b_id,
       |                 list_cosine_similarity(q.ev, b.ev) AS rel
       |          FROM e q JOIN e b ON q.vec_id < 50 AND b.vec_id != q.vec_id) s) t
       |  WHERE rk <= 10),
       |pairs AS (
       |  SELECT x.q_id, x.b_id AS a_id, y.b_id AS c_id,
       |         list_cosine_similarity(ex.ev, ey.ev) AS sim
       |  FROM sl x JOIN sl y ON x.q_id = y.q_id AND x.b_id != y.b_id
       |  JOIN e ex ON ex.vec_id = x.b_id
       |  JOIN e ey ON ey.vec_id = y.b_id),
       |sel1 AS (
       |  SELECT q_id, b_id, 1 AS pick FROM (
       |    SELECT q_id, b_id, row_number() OVER (PARTITION BY q_id
       |             ORDER BY rel DESC, b_id) AS rn FROM sl) t
       |  WHERE rn = 1),
       |all1 AS (SELECT * FROM sel1),
       |$rounds
       |SELECT q_id, CAST(pick AS BIGINT) AS pick, b_id
       |FROM all5
       |ORDER BY q_id, pick""".stripMargin
  }

  /** The generated sketch-bit SQL shared by the LSH oracles: the same
    * rational hyperplanes inline, each dot an explicit left-associated
    * 64-term sum (the kernel's fold order) over column `ev`. */
  private def sketchBitsSql: String =
    (0 until SketchPlanes).map { j =>
      val terms = (0 until Dim).map(k => s"ev[${k + 1}]*(${hyper(j, k)})").mkString(" + ")
      s"(CASE WHEN ($terms) >= 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n     + ")

  override def oracles: Map[String, String] = Map(
    "q_ann_cosine_topk" ->
      """WITH p AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS b_id,
        |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                CAST(b.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings q JOIN embeddings b
        |    ON q.vec_id < 50 AND b.vec_id != q.vec_id)
        |SELECT q_id, rk, b_id, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY cos DESC, b_id) AS rk
        |  FROM p) t
        |WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,

    // same cosine op sequence as q_ann_cosine_topk, restricted to
    // cross-label pairs
    "q_mine_hard_negatives" ->
      """WITH p AS (
        |  SELECT q.vec_id AS q_id, b.vec_id AS b_id,
        |         CAST(b.label AS BIGINT) AS neg_label,
        |         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |                                CAST(b.embedding AS DOUBLE[])) AS cos
        |  FROM embeddings q JOIN embeddings b
        |    ON q.vec_id < 50 AND b.vec_id != q.vec_id AND b.label != q.label)
        |SELECT q_id, rk, b_id, neg_label, cos FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |                               ORDER BY cos DESC, b_id) AS rk
        |  FROM p) t
        |WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,

    // norm = sqrt of the sequential sum of squares; same fold both engines
    "q_embed_normalize" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS norm,
        |  round(CAST(embedding[1] AS DOUBLE)
        |        / sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))), 6) AS first_normalized
        |FROM embeddings
        |ORDER BY vec_id""".stripMargin,

    // per-dim min/max -> codes -> bucket-center reconstruction, all
    // IEEE-exact ops in the same order as the Spark side; the code fold
    // and SSE compare raw (no rounding anywhere)
    "q_embed_sq8" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |dims AS (
        |  SELECT dim, min(x) AS mn, max(x) AS mx
        |  FROM (SELECT generate_subscripts(v, 1) AS dim, unnest(v) AS x FROM v)
        |  GROUP BY dim),
        |model AS (SELECT list(mn ORDER BY dim) AS mns, list(mx ORDER BY dim) AS mxs
        |          FROM dims),
        |coded AS (
        |  SELECT vec_id, v, mns, mxs,
        |    [ CASE WHEN mxs[i] = mns[i] THEN 0
        |           ELSE CAST(least(floor((v[i] - mns[i]) / (mxs[i] - mns[i]) * 255), 255) AS BIGINT)
        |      END FOR i IN range(1, len(v) + 1) ] AS codes
        |  FROM v CROSS JOIN model)
        |SELECT vec_id,
        |  codes[1] AS code_first,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum,
        |  list_sum([ (v[i] - (mns[i] + (codes[i] + 0.5) * (mxs[i] - mns[i]) / 256))
        |             * (v[i] - (mns[i] + (codes[i] + 0.5) * (mxs[i] - mns[i]) / 256))
        |             FOR i IN range(1, len(v) + 1) ]) AS sse
        |FROM coded
        |ORDER BY vec_id""".stripMargin,

    "q_embed_neardup" ->
      """SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |       list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                              CAST(b.embedding AS DOUBLE[])) AS cos
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                             CAST(b.embedding AS DOUBLE[])) >= 0.35
        |ORDER BY a_id, b_id""".stripMargin,

    "q_embed_lsh_sketch" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings)
         |SELECT vec_id,
         |  CAST($sketchBitsSql AS BIGINT) AS sketch
         |FROM e
         |ORDER BY vec_id""".stripMargin,

    // full LSH-ANN replay: sketch bits + hamming<=2 candidate join (the
    // 37-mask multi-probe IS the hamming<=2 ball, so bit_count(xor) <= 2
    // reproduces the candidate set exactly) + cosine top-5
    "q_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
         |sk AS (SELECT vec_id, ev,
         |  CAST($sketchBitsSql AS BIGINT) AS sketch
         |FROM e),
         |cand AS (
         |  SELECT q.vec_id AS q_id, b.vec_id AS b_id,
         |         list_cosine_similarity(q.ev, b.ev) AS cos
         |  FROM sk q JOIN sk b
         |    ON q.vec_id < 50 AND b.vec_id != q.vec_id
         |   AND bit_count(xor(q.sketch, b.sketch)) <= 2)
         |SELECT q_id, rk, b_id, cos FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |                               ORDER BY cos DESC, b_id) AS rk
         |  FROM cand) t
         |WHERE rk <= 5
         |ORDER BY q_id, rk""".stripMargin,

    // full IVF replay: Knuth-hash seeds + train sample, one Lloyd round
    // (argmax assignment = row_number ORDER BY cos DESC, c_id DESC, the
    // struct-max tiebreak; per-dimension mean = list_reduce over the
    // vec_id-sorted sample, the engine's sorted fold), full-corpus
    // assignment, top-8 probe cells per query (tie -> LOWEST c_id,
    // matching the probe window), candidate join, cosine top-5.
    "q_ann_ivf" -> ivfServeOracle,
    // q_ann_ivf_persisted round-trips the same deterministic model
    // through parquet, so the identical replay grades both paths
    "q_ann_ivf_persisted" -> ivfServeOracle,

    "q_ann_recall_curve" -> recallCurveOracle,

    "q_ann_mmr" -> mmrOracle,

    "q_kmeans_train" -> kmeansOracle,

    "q_ann_ndcg" -> ndcgOracle,

    // SemDeDup replay over the same IVF model: within-cell rank by
    // centroid cosine (desc, id asc), drop when any higher-ranked
    // cellmate is within cos >= 0.35.
    "q_dedup_semantic" ->
      s"""WITH $ivfOracleCtes,
        |ranked AS (
        |  SELECT a.vec_id, a.ev, a.cell,
        |         row_number() OVER (PARTITION BY a.cell
        |           ORDER BY list_cosine_similarity(a.ev, c.cv) DESC, a.vec_id) AS rnk
        |  FROM assigned a JOIN cent c ON c.c_id = a.cell),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM ranked a JOIN ranked b ON a.cell = b.cell AND a.rnk < b.rnk
        |  WHERE list_cosine_similarity(a.ev, b.ev) >= 0.35)
        |SELECT r.vec_id, CAST(r.cell AS BIGINT) AS cell,
        |       CAST(r.rnk AS BIGINT) AS rnk,
        |       (d.vec_id IS NULL) AS keep
        |FROM ranked r LEFT JOIN dropped d ON d.vec_id = r.vec_id
        |ORDER BY r.vec_id""".stripMargin,

    // the same IVF assignment, then a per-cell Knuth-hash rank quota
    "q_sample_diverse" ->
      s"""WITH $ivfOracleCtes,
        |sel AS (
        |  SELECT vec_id, cell,
        |         row_number() OVER (PARTITION BY cell
        |           ORDER BY ((((vec_id + 13) % 2147483648 + 2147483648) % 2147483648) * 2654435761) % 4294967296,
        |                    vec_id) AS rk
        |  FROM assigned)
        |SELECT vec_id, CAST(cell AS BIGINT) AS cell, CAST(rk AS BIGINT) AS rk
        |FROM sel WHERE rk <= 8
        |ORDER BY vec_id""".stripMargin,

    "q_ann_pq" -> pqOracleSql
  )
}
