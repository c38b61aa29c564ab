package graft.queries

import graft.QueryPack
import graft.multimodal.MultimodalOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column queries: typed metadata over binary payloads,
  * REAL PNG decode feeding the feature histogram (javax.imageio, no
  * external codec), and byte-level frame-sampling/resize — each
  * oracle-checked by exact replay of the planted payloads. */
object MultimodalQueries extends QueryPack {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multimodal_meta" -> { (s, d) =>
      import s.implicits._
      MultimodalOps.payloadTable(s, d)
        .select(
          $"doc_id",
          asLong(length($"payload")).as("n_bytes"),
          asLong($"meta.width").as("width"),
          asLong($"meta.height").as("height"),
          asLong($"meta.channels").as("channels"),
          $"meta.format".as("format"))
        .orderBy($"doc_id")
    },

    // REAL PNG decode: encode the planted raster as an actual PNG per doc,
    // decode it back with javax.imageio, histogram the decoded samples
    "q_multimodal_features" -> { (s, d) =>
      import s.implicits._
      MultimodalOps.extractFeatures(MultimodalOps.pngPayloadTable(s, d))
        .toDF()
        .select(Seq($"doc_id", $"n_px", $"mean_px") ++
          (0 until 8).map(b => element_at($"histogram", b + 1).as(s"h$b")): _*)
        .orderBy($"doc_id")
    },

    // nearest-neighbor resize to an 8x8 grid over the stub pixel raster
    "q_multimodal_resize" -> { (s, d) =>
      import s.implicits._
      val payloads = MultimodalOps.payloadTable(s, d)
        .select($"doc_id", $"payload", $"meta.width".as("width"), $"meta.height".as("height"))
        .as[MultimodalOps.Payload]
      MultimodalOps.resize(payloads, outW = 8, outH = 8)
        .toDF()
        .select($"doc_id", asLong($"out_w").as("out_w"), asLong($"out_h").as("out_h"),
                $"px_sum", $"px_mean")
        .orderBy($"doc_id")
    },

    // ---- perceptual image dedup (dHash + lossless block LSH) ----
    // Near-duplicate IMAGES via the 64-bit gradient dHash of each
    // decoded raster, paired through the same 16-bit-block LSH as the
    // text simhash path (pigeonhole: hamming<=3 pairs must share a
    // block — lossless, no all-pairs anywhere in the plan; the all-pairs
    // ground truth lives in the oracle). Everything after the decode
    // shuffles 8-byte hashes only.
    "q_multimodal_phash" -> { (s, d) =>
      import s.implicits._
      import graft.llm.TextOps
      val ph = MultimodalOps.dHashes(MultimodalOps.pngPayloadTable(s, d)).toDF()
      val blocks = ph.select($"doc_id", $"phash",
          explode(TextOps.simhashBlocks($"phash")).as("b"))
        .select($"doc_id", $"phash", $"b.blk", $"b.v")
      val a = blocks.select($"doc_id".as("a_id"), $"phash".as("a_ph"), $"blk", $"v")
      val b = blocks.select($"doc_id".as("b_id"), $"phash".as("b_ph"), $"blk", $"v")
      a.join(b, Seq("blk", "v"))
        .filter($"a_id" < $"b_id")
        .dropDuplicates("a_id", "b_id")
        .select($"a_id", $"b_id", asLong(TextOps.hamming64($"a_ph", $"b_ph")).as("hamming"))
        .filter($"hamming" <= 3)
        .orderBy($"a_id", $"b_id")
    },

    // ---- REAL WAV decode: the audio modality, end to end ----
    // A deterministic 16-bit PCM waveform per doc is encoded as an actual
    // RIFF/WAVE file (javax.sound.sampled) and decoded back through the
    // real parser on the executors; count/sum/peak/zero-crossings run
    // over the decoded samples. Integer closed-form waveform -> the
    // oracle replays the expected features with NO decoder, so a codec
    // defect (byte order, header offset, sign) breaks the hash match.
    "q_multimodal_audio" -> { (s, d) =>
      import s.implicits._
      MultimodalOps.extractAudioFeatures(MultimodalOps.wavPayloadTable(s, d))
        .toDF()
        .orderBy($"doc_id")
    },

    // ---- end-to-end MULTIMODAL training-set assembly ----
    // The cross-modality showpiece: text, embedding, image, and audio
    // pipelines compose into one training record per surviving doc.
    // Stages: exact text dedup on the sha2 digest -> text quality gate
    // (n_tokens >= 20, score >= 0.2) -> SemDeDup semantic screen over
    // the shared IVF model (embedding modality) -> feature columns from
    // every modality (token count, quality, embedding L2 norm, decoded
    // image mean, decoded audio zero-crossings). All joins key on the
    // 8-byte doc_id; each modality contributes one narrow column set,
    // so the pipeline's shuffles never carry payloads (text, vectors,
    // rasters, waveforms stay inside their modality's scan). The oracle
    // replays every stage — including both real codecs — in one SQL.
    "q_pipeline_multimodal" -> { (s, d) =>
      import s.implicits._
      import graft.llm.TextOps
      val base = graft.Tables.documents(s, d)
      val keep = base.groupBy(sha2($"text", 256).as("dg"))
        .agg(min($"doc_id").as("doc_id")).select($"doc_id")
      val text = base.join(keep, Seq("doc_id"))
        .select(Seq($"doc_id") ++ TextOps.qualityColumns($"text"): _*)
        .filter($"n_tokens" >= 20 && $"quality_score" >= 0.2)
        .select($"doc_id", $"n_tokens", $"quality_score")
      val semantic = LlmVectorQueries.semanticScreen(s, d)
        .filter($"keep").select($"vec_id".as("doc_id"))
      val emb = {
        import graft.llm.VectorOps.{asDoubles, norm2}
        graft.functions.register(s)
        graft.Tables.embeddings(s, d).select($"vec_id".as("doc_id"),
          round(sqrt(norm2(asDoubles($"embedding"))), 6).as("embed_norm"))
      }
      val img = MultimodalOps.extractFeatures(MultimodalOps.pngPayloadTable(s, d))
        .toDF().select($"doc_id", $"mean_px")
      val aud = MultimodalOps.extractAudioFeatures(MultimodalOps.wavPayloadTable(s, d))
        .toDF().select($"doc_id", $"zero_cross")
      text.join(semantic, Seq("doc_id"))
        .join(emb, Seq("doc_id"))
        .join(img, Seq("doc_id"))
        .join(aud, Seq("doc_id"))
        .orderBy($"doc_id")
    },

    // ---- shot-boundary (keyframe) detection over decoded frames ----
    // The temporal video op: every frame decodes through the REAL PNG
    // codec, consecutive frames compare by exact sum-of-absolute-
    // differences (zip_with + aggregate — codegen HOFs, no UDF), a
    // boundary fires when the mean per-pixel delta exceeds 8, and
    // running shot indices come off one window pass. Scale shape: the
    // decode is a narrow partition-batched map; the only shuffle keys
    // (doc_id, frame_idx) for the lag window — pixel arrays move once.
    // The planted shot rule is closed-form, so the oracle replays every
    // expected SAD without a decoder: a codec defect, a frame
    // misordering, or an off-by-one in the lag breaks the hash match.
    "q_multimodal_shots" -> { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val px = MultimodalOps.decodeFramePixels(
        MultimodalOps.videoPayloadTable(s, d)).toDF()
      val w = Window.partitionBy($"doc_id").orderBy($"frame_idx")
      px.withColumn("prev", lag($"px", 1).over(w))
        .withColumn("wh", size($"px"))
        .withColumn("sad",
          when($"prev".isNull, lit(0L)).otherwise(
            aggregate(zip_with($"px", $"prev", (a, b) => abs(a - b)),
              lit(0L), (acc, x) => acc + x)))
        .withColumn("is_boundary", $"frame_idx" > 0 && $"sad" > lit(8) * $"wh")
        .withColumn("shot_idx",
          sum(when($"is_boundary", 1L).otherwise(0L)).over(w))
        .select($"doc_id", asLong($"frame_idx").as("frame_idx"),
          asLong($"sad").as("sad"), $"is_boundary",
          asLong($"shot_idx").as("shot_idx"))
        .orderBy($"doc_id", $"frame_idx")
    },

    // frame sampling: 64-byte frames, every 2nd frame kept
    "q_multimodal_frames" -> { (s, d) =>
      import s.implicits._
      val payloads = MultimodalOps.payloadTable(s, d)
        .select($"doc_id", $"payload", $"meta.width".as("width"), $"meta.height".as("height"))
        .as[MultimodalOps.Payload]
      MultimodalOps.sampleFrames(payloads, frameSize = 64, every = 2)
        .toDF()
        .select($"doc_id", asLong($"frame_idx").as("frame_idx"), $"n_bytes", $"byte_sum")
        .orderBy($"doc_id", $"frame_idx")
    }
  )

  override def oracles: Map[String, String] = Map(
    // closed-form replay WITHOUT a decoder: frame f's raster base is
    // ((doc_id%256)*31 + (f // shotlen)*97) % 256 with pixel
    // (base + y*7 + x*13) % 256, so the expected SAD between
    // consecutive frames is an exact integer sum over the pixel grid
    "q_multimodal_shots" ->
      """WITH docs AS (
        |  SELECT doc_id, 1 + n_chars % 16 AS w, 1 + n_chars % 12 AS h
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, w, h, CAST(unnest(range(0, 12)) AS BIGINT) AS f
        |  FROM docs),
        |fb AS (
        |  SELECT doc_id, w, h, f,
        |    ((doc_id % 256) * 31 + (f // (2 + doc_id % 3)) * 97) % 256 AS base
        |  FROM f),
        |pair AS (
        |  SELECT a.doc_id, a.f, a.w, a.h, a.base AS b1, b.base AS b0
        |  FROM fb a LEFT JOIN fb b ON a.doc_id = b.doc_id AND b.f = a.f - 1),
        |px AS (
        |  SELECT doc_id, f, w, b1, b0, unnest(range(0, w * h)) AS i
        |  FROM pair WHERE b0 IS NOT NULL),
        |sadt AS (
        |  SELECT doc_id, f,
        |    sum(abs((b1 + (i // w) * 7 + (i % w) * 13) % 256
        |          - (b0 + (i // w) * 7 + (i % w) * 13) % 256)) AS sad
        |  FROM px GROUP BY doc_id, f),
        |joined AS (
        |  SELECT p.doc_id, p.f, p.w * p.h AS wh, coalesce(s.sad, 0) AS sad
        |  FROM pair p LEFT JOIN sadt s ON p.doc_id = s.doc_id AND p.f = s.f)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, CAST(sad AS BIGINT) AS sad,
        |  (f > 0 AND sad > 8 * wh) AS is_boundary,
        |  CAST(sum(CASE WHEN f > 0 AND sad > 8 * wh THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY f) AS BIGINT) AS shot_idx
        |FROM joined ORDER BY doc_id, frame_idx""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST(1 + n_chars % 64 AS BIGINT) AS width,
        |  CAST(1 + n_chars % 48 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  'fake/rgb8' AS format
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // the PNG path verified WITHOUT a decoder: PNG is lossless and the
    // planted raster is a closed-form integer rule, so the oracle
    // recomputes every expected pixel directly — pix(i) =
    // ((doc_id%256)*31 + (i//w)*7 + (i%w)*13) % 256 — and any
    // encode/decode defect on the Spark side breaks the hash match
    "q_multimodal_features" -> {
      val bins = (0 until 8).map(b =>
        s"  CAST(len(list_filter(ps, p -> p // 32 = $b)) AS DOUBLE) / (w*h) AS h$b")
        .mkString(",\n")
      s"""WITH dims AS (
         |  SELECT doc_id, 1 + n_chars % 64 AS w, 1 + n_chars % 48 AS h
         |  FROM documents),
         |px AS (
         |  SELECT doc_id, w, h,
         |    [ ((doc_id % 256) * 31 + (i // w) * 7 + (i % w) * 13) % 256
         |      FOR i IN range(0, w * h) ] AS ps
         |  FROM dims)
         |SELECT doc_id,
         |  CAST(w * h AS BIGINT) AS n_px,
         |  CAST(list_sum(ps) AS DOUBLE) / (w * h) AS mean_px,
         |$bins
         |FROM px
         |ORDER BY doc_id""".stripMargin
    },

    // the 8x8 nearest-neighbor grid replayed position by position:
    // src index = (floor(y*h/8)*w + floor(x*w/8)) mod n_bytes, all
    // integer arithmetic (codepoint == byte for the ASCII corpus)
    "q_multimodal_resize" ->
      """SELECT doc_id,
        |  CAST(8 AS BIGINT) AS out_w, CAST(8 AS BIGINT) AS out_h,
        |  CAST(list_sum([ ord(substring(text,
        |        CAST((((i // 8) * (1 + n_chars % 48) // 8) * (1 + n_chars % 64)
        |              + ((i % 8) * (1 + n_chars % 64) // 8))
        |             % octet_length(encode(text)) + 1 AS INT), 1))
        |      FOR i IN range(0, 64) ]) AS BIGINT) AS px_sum,
        |  CAST(list_sum([ ord(substring(text,
        |        CAST((((i // 8) * (1 + n_chars % 48) // 8) * (1 + n_chars % 64)
        |              + ((i % 8) * (1 + n_chars % 64) // 8))
        |             % octet_length(encode(text)) + 1 AS INT), 1))
        |      FOR i IN range(0, 64) ]) AS DOUBLE) / 64.0 AS px_mean
        |FROM documents
        |WHERE octet_length(encode(text)) > 0
        |ORDER BY doc_id""".stripMargin,

    // generated: every dHash bit recomputed from the closed-form planted
    // raster (pixel (y,x) = ((doc_id%256)*31 + y*7 + x*13) % 256, resize
    // mapping sy = r*h//8, sx = c*w//9), summed in HUGEINT, mapped to
    // signed BIGINT, then ALL-PAIRS hamming <= 3 — independent ground
    // truth proving both the real PNG decode and the block-LSH pairing
    // are lossless (the simhash-oracle pattern applied to images)
    "q_multimodal_phash" -> {
      def pix(r: Int, cExpr: String) =
        s"((doc_id % 256) * 31 + (($r * h) // 8) * 7 + (($cExpr * w) // 9) * 13) % 256"
      val bits = (for (r <- 0 until 8; c <- 0 until 8) yield {
        val j = r * 8 + c
        val pow = java.lang.Long.toUnsignedString(1L << j)
        s"(CASE WHEN (${pix(r, (c + 1).toString)}) > (${pix(r, c.toString)}) THEN $pow::HUGEINT ELSE 0::HUGEINT END)"
      }).mkString("\n     + ")
      s"""WITH dims AS (
         |  SELECT doc_id, 1 + n_chars % 64 AS w, 1 + n_chars % 48 AS h
         |  FROM documents),
         |ph AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN m >= 9223372036854775808::HUGEINT
         |              THEN m - 18446744073709551616::HUGEINT ELSE m END AS BIGINT) AS phash
         |  FROM (SELECT doc_id, ($bits) AS m FROM dims))
         |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         |       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
         |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.phash, b.phash)) <= 3
         |ORDER BY a_id, b_id""".stripMargin
    },

    // every stage of the multimodal pipeline replayed in one SQL:
    // the IVF/SemDeDup CTEs, the digest dedup (text-level), the quality
    // gate, and the closed-form image/audio feature replays
    "q_pipeline_multimodal" -> {
      val score = """round(CAST(n_stop AS DOUBLE) / n_tok * 0.5
        |          + least(CAST(n_tok AS DOUBLE) / 100.0, 1.0) * 0.3
        |          + CAST(n_dist AS DOUBLE) / n_tok * 0.2, 6)""".stripMargin
      s"""WITH ${LlmVectorQueries.ivfOracleCtes},
        |ranked AS (
        |  SELECT a.vec_id, a.ev, a.cell,
        |         row_number() OVER (PARTITION BY a.cell
        |           ORDER BY list_cosine_similarity(a.ev, c.cv) DESC, a.vec_id) AS rnk
        |  FROM assigned a JOIN cent c ON c.c_id = a.cell),
        |dropped AS (
        |  SELECT DISTINCT b.vec_id
        |  FROM ranked a JOIN ranked b ON a.cell = b.cell AND a.rnk < b.rnk
        |  WHERE list_cosine_similarity(a.ev, b.ev) >= 0.35),
        |skeep AS (SELECT r.vec_id FROM ranked r
        |          LEFT JOIN dropped dp ON dp.vec_id = r.vec_id
        |          WHERE dp.vec_id IS NULL),
        |keep1 AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text),
        |q AS (
        |  SELECT d.doc_id,
        |    len(string_split(d.text, ' ')) AS n_tok,
        |    len(list_filter(string_split(d.text, ' '),
        |        t -> t IN ('the','a','of','to','and','in','is','it','for','on'))) AS n_stop,
        |    len(list_distinct(string_split(d.text, ' '))) AS n_dist
        |  FROM documents d JOIN keep1 USING (doc_id)),
        |txt AS (
        |  SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tokens, $score AS quality_score
        |  FROM q
        |  WHERE n_tok >= 20 AND $score >= 0.2),
        |norms AS (
        |  SELECT vec_id,
        |    round(sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
        |                                       x -> x * x))), 6) AS embed_norm
        |  FROM embeddings),
        |dims AS (SELECT doc_id, 1 + n_chars % 64 AS w, 1 + n_chars % 48 AS h
        |         FROM documents),
        |img AS (
        |  SELECT doc_id,
        |    CAST(list_sum([ ((doc_id % 256) * 31 + (i // w) * 7 + (i % w) * 13) % 256
        |                    FOR i IN range(0, w * h) ]) AS DOUBLE) / (w * h) AS mean_px
        |  FROM dims),
        |aud AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(range(1, 160 + n_chars % 128),
        |      i -> ((((doc_id * 131 + i * 17) % 4001) - 2000 >= 0)
        |            != (((doc_id * 131 + (i - 1) * 17) % 4001) - 2000 >= 0))))
        |      AS BIGINT) AS zero_cross
        |  FROM documents)
        |SELECT t.doc_id, t.n_tokens, t.quality_score, n.embed_norm,
        |       i.mean_px, a.zero_cross
        |FROM txt t
        |JOIN skeep k ON k.vec_id = t.doc_id
        |JOIN norms n ON n.vec_id = t.doc_id
        |JOIN img i ON i.doc_id = t.doc_id
        |JOIN aud a ON a.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin
    },

    // the WAV path verified WITHOUT a decoder: the planted waveform is
    // sample(i) = ((doc_id*131 + i*17) % 4001) - 2000 over
    // n = 160 + n_chars % 128 samples; zero crossings count sign-boundary
    // (>= 0) flips between consecutive samples
    "q_multimodal_audio" ->
      """WITH a AS (
        |  SELECT doc_id, 160 + n_chars % 128 AS n FROM documents),
        |s AS (
        |  SELECT doc_id, n,
        |    [ ((doc_id * 131 + i * 17) % 4001) - 2000 FOR i IN range(0, n) ] AS xs
        |  FROM a)
        |SELECT doc_id,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST(list_sum(xs) AS BIGINT) AS sum_samples,
        |  CAST(list_max(list_transform(xs, x -> abs(x))) AS BIGINT) AS max_abs,
        |  CAST(len(list_filter(range(1, n), i -> (xs[i+1] >= 0) != (xs[i] >= 0))) AS BIGINT) AS zero_cross
        |FROM s
        |ORDER BY doc_id""".stripMargin,

    // every 2nd 64-byte frame replayed as text slices (codepoint == byte
    // for the ASCII corpus; tail frame shorter than 64)
    "q_multimodal_frames" ->
      """WITH fr AS (
        |  SELECT doc_id,
        |    [ {idx: f, sub: substring(text, CAST(f*64 + 1 AS INT), 64)}
        |      FOR f IN range(0, CAST(ceil(octet_length(encode(text)) / 64.0) AS BIGINT), 2) ] AS frames
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(u.idx AS BIGINT) AS frame_idx,
        |  CAST(length(u.sub) AS BIGINT) AS n_bytes,
        |  CAST(list_sum(list_transform(string_split(u.sub, ''), ch -> ord(ch))) AS BIGINT) AS byte_sum
        |FROM fr, unnest(frames) AS t(u)
        |ORDER BY doc_id, frame_idx""".stripMargin
  )
}
