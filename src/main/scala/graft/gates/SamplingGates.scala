package graft.gates

import org.apache.spark.sql.functions._
import graft.pipeline.{Dedup, Packing, Sampling}
import graft.stats.Stats
import Inputs._

/** Sampling and mixing gates: hash, stratified, reservoir and weighted
  * samples, mixing weights, shard/split assignment and sequence
  * packing, plus the whole recipe end to end.
  */
object SamplingGates {

  val all: Seq[Gate] = Seq(
    // domain balancing: keep the 10 longest docs per source (ties by
    // doc_id) via the bounded per-group heap — the no-window top-N
    Gate("domain_cap", (s, dir) =>
      Sampling.capPerGroup(docs(s, dir).withColumn("score", col("n_chars").cast("double")),
        n = 10, groupCol = "source", scoreCol = "score"),
      """SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS score, CAST(rn AS BIGINT) AS rank
        |FROM (SELECT source, doc_id, n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id ASC) AS rn
        |      FROM documents)
        |WHERE rn <= 10""".stripMargin),

    // deterministic hash sampling (md5-replayable variant so the oracle
    // recomputes membership bit-for-bit; the xxhash64 production variant
    // is equivalence-tested in PipelineSpec)
    Gate("sample_docs", (s, dir) =>
      Sampling.hashSampleMd5(docs(s, dir), 0.2, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id")),
      // membership bucket = low 60 bits of md5(key || salt) mod 1e6 — the
      // exact rule Sampling.bucketMd5 compiles (Spark: conv(hex,16,10);
      // DuckDB: '0x' || hex cast)
      """SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 < 200000""".stripMargin),

    // data-mixing: per-language rates, unlisted languages at 5%
    Gate("sample_stratified", (s, dir) =>
      Sampling.stratifiedSampleMd5(docs(s, dir), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.05, salt = "mix1")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang")),
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'mix1'), 1, 15)) AS BIGINT)
        |      % 1000000
        |      < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 250000 ELSE 50000 END""".stripMargin),

    // training-mix weight > 1: deterministic fractional up-sampling
    // (2.3 epochs -> 2 copies always, an md5-selected 30% get a third)
    Gate("upsample_docs", (s, dir) =>
      Sampling.upsampleMd5(docs(s, dir), 2.3, "doc_id", salt = "up1")
        .select(col("doc_id").cast("long").as("doc_id"), col("copy_idx")),
      // 2 copies of every row + a third for md5-bucket < 300000 (= 0.3)
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(i AS BIGINT) AS copy_idx
        |FROM documents, UNNEST(range(0, 2 + CASE WHEN
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'up1'), 1, 15)) AS BIGINT)
        |    % 1000000 < 300000 THEN 1 ELSE 0 END)) AS t(i)""".stripMargin),

    // fixed-budget eval-set sampling: exactly min(10, |source|) docs per
    // source, k-smallest-md5 membership (layout-invariant, replayable)
    Gate("reservoir_bygroup", (s, dir) =>
      Sampling.reservoirByGroupMd5(docs(s, dir), k = 10, "doc_id", "source", salt = "rs1")
        .select(col("doc_id"), col("source")),
      // k-smallest-md5 membership replayed as a window; 13 hex chars = 52
      // bits, exact in the double the Spark side ranks on
      """WITH h AS (SELECT doc_id, source,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'rs1'), 1, 13)) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (SELECT doc_id, source, ROW_NUMBER() OVER
        |        (PARTITION BY source ORDER BY hv ASC, CAST(doc_id AS VARCHAR) ASC) AS rn
        |      FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 10""".stripMargin),

    // quality-weighted eval sampling: inclusion odds proportional to
    // n_chars (A-ES keys ranked by ln(u)/w, md5-derived u)
    Gate("weighted_reservoir", (s, dir) =>
      Sampling.weightedReservoirByGroupMd5(docs(s, dir), k = 10, "doc_id", "source",
        "n_chars", salt = "wr1")
        .select(col("doc_id"), col("source"), col("n_chars")),
      // A-ES replay: same md5 uniform, same ln(u)/w key, same tie order
      """WITH h AS (SELECT doc_id, source, n_chars,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'wr1'), 1, 13)) AS BIGINT) AS hv
        |  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0),
        |s AS (SELECT doc_id, source, n_chars,
        |        LN((CAST(hv AS DOUBLE) + 0.5) / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS sc
        |      FROM h),
        |r AS (SELECT doc_id, source, n_chars, ROW_NUMBER() OVER
        |        (PARTITION BY source ORDER BY sc DESC, CAST(doc_id AS VARCHAR) ASC) AS rn
        |      FROM s)
        |SELECT doc_id, source, n_chars FROM r WHERE rn <= 10""".stripMargin),

    // temperature-balanced mixing (alpha=0.3): per-source natural share
    // p, target share q ~ p^alpha, and the epochs factor that realizes
    // q at the same total row budget
    Gate("temperature_mix", (s, dir) =>
      Sampling.temperatureMixRates(docs(s, dir), "source", alpha = 0.3)
        .select(col("source"), col("n_rows"), col("p"), col("q"), col("epochs")),
      // q = c^a / sum c^a (the (c/T)^a normalizer cancels); arithmetic
      // order mirrors the Spark expression
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n_rows) AS DOUBLE) AS tt,
        |             SUM(POWER(CAST(n_rows AS DOUBLE), 0.3)) AS z FROM c)
        |SELECT source, n_rows, ROUND(n_rows / tt, 6) AS p,
        |  ROUND(POWER(CAST(n_rows AS DOUBLE), 0.3) / z, 6) AS q,
        |  ROUND(POWER(CAST(n_rows AS DOUBLE), 0.3) / z * tt / n_rows, 6) AS epochs
        |FROM c CROSS JOIN t""".stripMargin),

    // the general mixing rule: per-stratum weights both below and above
    // 1 in ONE operator (en 1.5 epochs, zh 25%, everything else 5%)
    Gate("mix_weights", (s, dir) =>
      Sampling.mixWeightsMd5(docs(s, dir), "doc_id", "lang",
        Map("en" -> 1.5, "zh" -> 0.25), defaultWeight = 0.05, salt = "mw1")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("copy_idx")),
      // per-stratum weight -> floor copies + md5-fraction extra copy
      """WITH w AS (SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 1 ELSE 0 END AS whole,
        |    CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 250000 ELSE 50000 END AS fb,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'mw1'), 1, 15)) AS BIGINT)
        |      % 1000000 AS bucket
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, CAST(i AS BIGINT) AS copy_idx
        |FROM w, UNNEST(range(0, whole + CASE WHEN bucket < fb THEN 1 ELSE 0 END)) AS t(i)""".stripMargin),

    // deterministic shard assignment: the exact exchange+sort a shard
    // writer runs, emitted as data so layout is auditable
    Gate("shard_assign", (s, dir) =>
      Sampling.shardAssignMd5(docs(s, dir), numShards = 8, "doc_id", salt = "sh1")
        .select(col("doc_id").cast("long").as("doc_id"), col("shard"), col("shard_pos")),
      // shard = 60-bit md5 value mod 8; shard_pos = rank within shard
      // under the (hash, key) total order
      """WITH h AS (SELECT doc_id,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'sh1'), 1, 15)) AS BIGINT) AS h60
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       h60 % 8 AS shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY h60 % 8 ORDER BY h60, doc_id) AS BIGINT) - 1 AS shard_pos
        |FROM h""".stripMargin),

    // disjoint-by-construction train/val/test assignment (95/3/2)
    Gate("split_assign", (s, dir) =>
      Sampling.assignSplitsMd5(docs(s, dir), "doc_id",
        Seq("train" -> 0.95, "val" -> 0.03, "test" -> 0.02), salt = "sp1")
        .select(col("doc_id").cast("long").as("doc_id"), col("split")),
      // consecutive bucket ranges: train [0, 950000), val [950000, 980000),
      // test [980000, 1000000)
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN b < 950000 THEN 'train' WHEN b < 980000 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'sp1'), 1, 15)) AS BIGINT)
        |    % 1000000 AS b FROM documents)""".stripMargin),

    // sequence packing (concat-and-chunk): global token offsets via the
    // scalable prefix sum — range repartition + partitioned window +
    // broadcast partition prefixes, never a single-partition window
    Gate("pack_chunks", (s, dir) =>
      Packing.packChunks(docs(s, dir), budget = 512),
      """WITH tok AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents),
        |cum AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(start_offset // 512 AS BIGINT) AS first_chunk,
        |  CAST((start_offset + GREATEST(n_tokens, 1) - 1) // 512 AS BIGINT) AS last_chunk
        |FROM cum""".stripMargin),

    // the whole recipe end to end: exact dedup -> quality cutoff ->
    // deterministic sample -> sequence packing. Every stage is the
    // production operator; the oracle replays the full chain.
    Gate("pipeline_endtoend", (s, dir) => {
      val d = docs(s, dir)
      val survivors = d.join(
        Dedup.exactSurvivors(d).select(col("keep_id").as("doc_id")), "doc_id")
      val filtered = Stats.aboveQuantileExact(survivors, "n_chars", 0.25)
      val sampled = Sampling.hashSampleMd5(filtered, 0.5, "doc_id", salt = "e2e")
      Packing.packChunks(sampled, budget = 256)
    },
      """WITH surv AS (
        |  SELECT d.* FROM documents d
        |  JOIN (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)) k USING (doc_id)),
        |filt AS (
        |  SELECT * FROM surv
        |  WHERE CAST(n_chars AS DOUBLE) >=
        |    (SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.25) FROM surv)),
        |samp AS (
        |  SELECT * FROM filt
        |  WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'e2e'), 1, 15)) AS BIGINT)
        |        % 1000000 < 500000),
        |tok AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN trim(text) = '' THEN 0
        |         ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
        |  FROM samp),
        |cum AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_offset
        |  FROM tok)
        |SELECT doc_id, n_tokens, start_offset,
        |  CAST(start_offset // 256 AS BIGINT) AS first_chunk,
        |  CAST((start_offset + GREATEST(n_tokens, 1) - 1) // 256 AS BIGINT) AS last_chunk
        |FROM cum""".stripMargin)
  )
}
