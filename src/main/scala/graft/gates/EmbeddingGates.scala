package graft.gates

import org.apache.spark.sql.functions._
import graft.pipeline.{Ann, Multimodal}
import Inputs._

/** Embedding and multimodal gates: media feature extraction and real
  * PNG/WAV decode, exact and approximate nearest neighbours, near-dup
  * pairs, quantization.
  */
object EmbeddingGates {

  val all: Seq[Gate] = Seq(
    Gate("multimodal_features", (s, dir) =>
      Multimodal.extractFeatures(Multimodal.asMediaTable(docs(s, dir)))
        .toDF().select(col("doc_id"), col("mime"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("head_byte").cast("long").as("head_byte")),
      """SELECT doc_id, 'text/plain' AS mime,
        |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CAST(CASE WHEN length(text) = 0 THEN -1 ELSE ascii(text) END AS BIGINT) AS head_byte
        |FROM documents""".stripMargin),

    Gate("multimodal_frames", (s, dir) =>
      Multimodal.frameSample(Multimodal.asMediaTable(docs(s, dir)))
        .toDF().select(col("doc_id"), col("mime"), col("n_frames"), col("first_frame_md5")),
      """SELECT doc_id, 'text/plain' AS mime,
        |CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0
        |     ELSE CAST(ceil(octet_length(encode(text)) / 512.0) AS BIGINT) END AS BIGINT) AS n_frames,
        |-- corpus is ASCII (verified: octet_length == length for every
        |-- doc), so the first 256 chars ARE the first 256 bytes
        |CASE WHEN octet_length(encode(text)) = 0 THEN NULL
        |     ELSE md5(substring(text, 1, 256)) END AS first_frame_md5
        |FROM documents""".stripMargin),

    // REAL image decode round-trip: plant a deterministic tiny PNG per
    // doc_id (pixels are pure arithmetic in id/x/y), decode through the
    // JDK ImageIO reader, emit dims + exact pixel sum. PNG is lossless,
    // so DuckDB replays the expected values from the plant rule alone —
    // any decoder deviation (dims, channel order, color management)
    // breaks the hash
    Gate("multimodal_decode", (s, dir) =>
      Multimodal.decodeImages(Multimodal.plantPngTable(docs(s, dir).select(col("doc_id"))))
        .toDF().select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("pixel_sum")),
      // replays the PNG plant rule arithmetically (no image library):
      // doc_ids are nonnegative so DuckDB's % == the Spark side's floorMod
      """SELECT d.doc_id,
        |2 + (d.doc_id % 6) AS width,
        |2 + (d.doc_id % 4) AS height,
        |CAST(3 AS BIGINT) AS channels,
        |CAST(SUM((31*d.doc_id + 7*gx.x + 13*gy.y) % 256
        |       + (17*d.doc_id + 5*gx.x + 11*gy.y) % 256
        |       + (29*d.doc_id + 3*gx.x + 19*gy.y) % 256) AS BIGINT) AS pixel_sum
        |FROM documents d
        |CROSS JOIN generate_series(0, 6) gx(x)
        |CROSS JOIN generate_series(0, 4) gy(y)
        |WHERE gx.x < 2 + (d.doc_id % 6) AND gy.y < 2 + (d.doc_id % 4)
        |GROUP BY 1, 2, 3, 4""".stripMargin),

    // real JDK WAV/PCM decode (round 6, the audio twin of
    // multimodal_decode): plant 16-bit PCM WAVs whose samples are pure
    // arithmetic in (id, frame, channel), decode them back through
    // javax.sound.sampled, and let DuckDB verify frame/channel counts
    // and exact amplitude sums from the plant rule alone
    Gate("multimodal_audio", (s, dir) =>
      Multimodal.decodeAudio(Multimodal.plantWavTable(docs(s, dir).select(col("doc_id"))))
        .toDF().select(col("doc_id"),
          col("n_frames"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("amplitude_sum")),
      // replays the WAV plant rule arithmetically (no audio library):
      // doc_ids are nonnegative so DuckDB's % == the Spark side's floorMod
      """SELECT d.doc_id,
        |CAST(16 + (d.doc_id % 32) AS BIGINT) AS n_frames,
        |1 + (d.doc_id % 2) AS channels,
        |CAST(8000 AS BIGINT) AS sample_rate,
        |CAST(SUM((37*d.doc_id + 257*gt.t + 101*gc.c) % 65536 - 32768) AS BIGINT) AS amplitude_sum
        |FROM documents d
        |CROSS JOIN generate_series(0, 47) gt(t)
        |CROSS JOIN generate_series(0, 1) gc(c)
        |WHERE gt.t < 16 + (d.doc_id % 32) AND gc.c < 1 + (d.doc_id % 2)
        |GROUP BY 1, 2, 3, 4""".stripMargin),

    Gate("multimodal_resample", (s, dir) =>
      Multimodal.resample(Multimodal.asMediaTable(docs(s, dir)))
        .toDF().select(col("doc_id"),
          col("n_bytes").cast("long").as("n_bytes"), col("resampled_md5")),
      // corpus is ASCII (verified: octet_length == length for every doc),
      // so char indexing replays the Spark side's byte indexing exactly
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CASE WHEN octet_length(encode(text)) = 0 THEN NULL ELSE md5(array_to_string(
        |  list_transform(range(0, 64), i -> substr(text, CAST((i * length(text)) // 64 AS INT) + 1, 1)), ''))
        |END AS resampled_md5
        |FROM documents""".stripMargin),

    Gate("ann_cosine_topk", (s, dir) => {
      val e = embeddings(s, dir)
      Ann.bruteForceTopK(e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8), 10)
        .select(col("query_id"), col("cand_id"), col("sim"), col("rank").cast("long").as("rank"))
    },
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS qn
        |  FROM embeddings WHERE vec_id < 8),
        |c AS (SELECT vec_id AS cand_id, embedding AS ce,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS cn
        |  FROM embeddings WHERE vec_id >= 8),
        |scored AS (
        |  SELECT query_id, cand_id,
        |    ROUND(list_sum(list_transform(list_zip(qe, ce), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))/(qn*cn), 6) AS sim
        |  FROM q CROSS JOIN c),
        |ranked AS (SELECT query_id, cand_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 10""".stripMargin),

    Gate("embed_norms", (s, dir) =>
      embeddings(s, dir).select(
        col("vec_id"),
        col("label").cast("long").as("label"),
        round(Ann.l2Norm(col("embedding")), 6).as("l2")),
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |ROUND(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 6) AS l2
        |FROM embeddings""".stripMargin),

    // embedding-cosine near-dup (exact baseline; tau=0.42 sits in a
    // measured gap: the nearest pair is >=7e-4 from the boundary at the
    // gate scales, far beyond any cross-engine arithmetic divergence)
    Gate("embed_neardup_pairs", (s, dir) =>
      Ann.cosineNearDupPairs(embeddingsBalanced(s, dir), tau = 0.42),
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))/(a.nrm*b.nrm) AS cos
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.42""".stripMargin),

    // the SCALE path for embedding near-dup: seeded SRP-LSH banding +
    // exact verify, gated against the exact all-pairs oracle over the
    // planted pool. Recall is a deterministic property of the baked
    // hyperplane seed and the data: verified 0 missed / 0 extra at
    // sf0.001/0.01/0.1 (planted pairs sit at cos >= 0.998, per-pair miss
    // probability ~4e-5 at 16 planes / 4 bands; densest base pair 0.605)
    Gate("embed_neardup_srp", (s, dir) =>
      Ann.srpNearDupPairs(embPool(s, dir), tau = 0.95, dim = 64),
      // the SRP gate replays the exact all-pairs ground truth over the
      // planted pool; the Spark side must match it exactly (banding is
      // only allowed to cost time, never pairs)
      s"""WITH $embPoolCte,
         |v AS (SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
         |  FROM epool)
         |SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))/(a.nrm*b.nrm) AS cos
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.95""".stripMargin),

    Gate("ivf_topk", (s, dir) => {
      val e = embeddings(s, dir)
      Ann.ivfTopK(
        e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8),
        e.filter(col("vec_id") % 97 === 0), k = 10, nprobe = 2)
        .select(col("query_id"), col("cand_id"), col("sim"), col("rank").cast("long").as("rank"))
    },
      // IVF replay: same centroid rule, assignment argmin (rounded 9dp,
      // centroid-id tiebreak), nprobe=2 probing, rank by (sim desc, id)
      """WITH v AS (SELECT vec_id, embedding AS emb,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |cents AS (SELECT vec_id AS centroid_id, emb AS ce, nrm AS cn FROM v WHERE vec_id % 97 = 0),
        |cands AS (SELECT vec_id AS cand_id, emb, nrm FROM v WHERE vec_id >= 8),
        |qs AS (SELECT vec_id AS query_id, emb, nrm FROM v WHERE vec_id < 8),
        |assign AS (
        |  SELECT cand_id, emb, nrm, centroid_id,
        |    row_number() OVER (PARTITION BY cand_id ORDER BY d ASC, centroid_id ASC) AS r
        |  FROM (SELECT c.cand_id, c.emb, c.nrm, ct.centroid_id,
        |          -round(list_sum(list_transform(list_zip(c.emb, ct.ce), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))/(c.nrm*ct.cn), 9) AS d
        |        FROM cands c CROSS JOIN cents ct) x),
        |bucketed AS (SELECT cand_id, emb, nrm, centroid_id FROM assign WHERE r = 1),
        |probes AS (
        |  SELECT query_id, q_emb, q_nrm, centroid_id FROM (
        |    SELECT q.query_id, q.emb AS q_emb, q.nrm AS q_nrm, ct.centroid_id,
        |      -round(list_sum(list_transform(list_zip(q.emb, ct.ce), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))/(q.nrm*ct.cn), 9) AS d,
        |      row_number() OVER (PARTITION BY q.query_id ORDER BY d ASC, ct.centroid_id ASC) AS r
        |    FROM qs q CROSS JOIN cents ct) y WHERE r <= 2),
        |scored AS (
        |  SELECT p.query_id, b.cand_id,
        |    round(list_sum(list_transform(list_zip(p.q_emb, b.emb), p2 -> CAST(p2[1] AS DOUBLE)*CAST(p2[2] AS DOUBLE)))/(p.q_nrm*b.nrm), 6) AS sim
        |  FROM bucketed b JOIN probes p USING (centroid_id)),
        |ranked AS (SELECT query_id, cand_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, cand_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 10""".stripMargin),

    // int8 embedding quantization: the round-trip error bound scale/2
    // holds BY CONSTRUCTION per element, so the gate demands it for
    // every element of every vector (engine-side invariant; the oracle
    // supplies the deterministic expected counts)
    Gate("embed_quantize", (s, dir) => {
      val e = embeddings(s, dir)
      val q = Ann.quantizeInt8(e)
      val joined = e.join(q, "vec_id")
        .select(col("vec_id"), col("embedding"), col("scale"),
          Ann.dequantizeInt8().as("deq"))
      joined.select(col("vec_id"),
          // max |deq - orig| over the vector, in units of scale/2
          aggregate(zip_with(col("embedding"), col("deq"),
              (a, b) => abs(a.cast("double") - b.cast("double"))),
            lit(0.0), (acc, x) => greatest(acc, x)).as("max_err"),
          col("scale").cast("double").as("s"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(when(col("max_err") <= col("s") / 2 + lit(1e-6), 1L).otherwise(0L))
            .as("within_bound"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |       CAST(COUNT(*) AS BIGINT) AS within_bound
        |FROM embeddings""".stripMargin),

    // the TRAINED production path end to end: k-means centroids ->
    // bucket assignment -> probe -> score -> rank. Queries are the
    // planted perturbed near-copies (cos ~0.998 to their base vs a
    // densest base pair of 0.605), so the true top-1 of every query is
    // known from the plant rule and the oracle demands the trained
    // index find ALL of them at rank 1 — if training degrades (bad
    // centroids -> probes miss the base's bucket), found_at_1 drops
    // and the gate goes red. Measured headroom: 100% found at k=8
    // across sf0.001/0.01/0.1 and repeated trainings; nprobe=3 of 8
    // buckets still prunes 5/8 of the scored candidates.
    Gate("ivf_trained_recall", (s, dir) => {
      val e = embeddingsBalanced(s, dir)
      val q = embPool(s, dir).filter(col("vec_id") >= 2000000)
      val cents = Ann.kmeansCentroids(e, k = 8, iters = 4)
      Ann.ivfTopK(q, e, cents, k = 10, nprobe = 3)
        .agg(
          countDistinct(col("query_id")).as("n_queries"),
          sum(when(col("cand_id") === col("query_id") - 2000000 && col("rank") === 1, 1L)
            .otherwise(0L)).as("found_at_1"))
    },
      // trained-IVF gate: DuckDB cannot replay the float k-means means,
      // but it CAN derive the demanded answer from the plant rule — the
      // engine must find EVERY planted near-copy's base at rank 1
      // through the trained index, so both counts equal the plant count
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(COUNT(*) AS BIGINT) AS found_at_1
        |FROM embeddings WHERE vec_id % 11 = 5""".stripMargin)
  )
}
