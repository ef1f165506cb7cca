package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TopK.topK

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  *  - [[dot]] / [[l2Norm]]: double-precision arithmetic via the custom
  *    codegen'd kernel (no UDF, no interpreted HOF on the hot path).
  *  - [[bruteForceTopK]]: the exactness baseline — broadcast the (small)
  *    query set, crossJoin against candidates (narrow, no shuffle of the
  *    big side), then a map-side-partial bounded-heap top-k per query
  *    ([[graft.functions.TopKAggregator]]). The exchange carries at most
  *    k rows per (query, map task), never the full scored cross product —
  *    the `row_number` window form would move |q|x|cands| rows into one
  *    partition per query.
  *  - [[ivfTopK]]: the scale path — IVF-style coarse quantization:
  *    candidates are bucketed by nearest centroid (broadcast centroids),
  *    queries probe `nprobe` nearest buckets only. At 100 TB the probe
  *    reads 1/|centroids| of the data per query bucket; bucket ids are
  *    deterministic so the assignment can be persisted/partitioned-by.
  */
object Ann {

  /** Sequential double-precision dot product of two float arrays —
    * the custom codegen'd kernel ([[graft.functions.FloatVecDot]]);
    * Spark's HOF form is CodegenFallback and pays interpreted lambda
    * dispatch per element per pair. `VectorExpressionsSpec` keeps the
    * HOF form as the reference the kernel must equal bit for bit.
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.floatVecDot(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** The bounded-heap aggregator carries ids as long; reject id columns
    * that a long cast would silently null/corrupt (plan-time error
    * instead of a runtime encoder failure).
    */
  private def requireIntegralId(df: DataFrame, idCol: String): Unit = {
    import org.apache.spark.sql.types._
    df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType => ()
      case other => throw new IllegalArgumentException(
        s"top-k ranking requires an integral id column; $idCol is ${other.simpleString}")
    }
  }

  /** Explode a `topK` array into ranked rows (rank 1 = best). */
  private def explodeRanked(grouped: DataFrame, keyCol: String): DataFrame =
    grouped
      .select(col(keyCol), posexplode(col("top")).as(Seq("pos", "s")))
      .select(col(keyCol), col("s._2").as("cand_id"), col("s._1").as("sim"),
        (col("pos") + 1).cast("int").as("rank"))

  /** Exact top-k cosine neighbors of each query among candidates.
    * Ranking uses (rounded sim DESC, candidate id ASC) so ties are
    * deterministic across engines, runs, and cluster sizes.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame, k: Int,
                     idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    requireIntegralId(candidates, idCol)
    // norms precomputed per side — NOT per pair (the crossJoin would
    // otherwise recompute each norm |candidates| or |queries| times)
    val q = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"),
      l2Norm(col(embCol)).as("q_norm"))
    val c = candidates.select(col(idCol).as("cand_id"), col(embCol).as("c_emb"),
      l2Norm(col(embCol)).as("c_norm"))
    val scored = c.crossJoin(broadcast(q))
      .select(col("query_id"), col("cand_id"),
        round(try_divide(dot(col("q_emb"), col("c_emb")), col("q_norm") * col("c_norm")), 6).as("sim"))
      // a null embedding yields a null sim (encoder would throw), and a
      // ZERO-NORM embedding yields 0/0 = NaN, which Spark's ordering
      // ranks above every real score — either would flood the top-k, so
      // neither is ever a neighbor
      .filter(col("sim").isNotNull && !isnan(col("sim")))
    explodeRanked(
      scored.groupBy("query_id")
        .agg(topK(k)(col("sim"), col("cand_id").cast("long")).as("top")),
      "query_id")
  }

  /** Symmetric per-vector int8 quantization — the storage shape for an
    * embedding table at corpus scale (4x smaller than float32, and the
    * form GPU ANN serving ingests): `scale = maxAbs / 127` (float32),
    * `q_i = round(x_i / scale)` in [-127, 127]. Dequantization is
    * `q_i * scale`, so the per-element round-trip error is bounded by
    * scale/2 BY CONSTRUCTION — the embed_quantize gate asserts exactly
    * that invariant over every element (a broken rounding/clamp/scale
    * would violate it deterministically). Zero/null vectors quantize to
    * scale 0 with all-zero codes. Pure per-row array arithmetic — no
    * shuffle, scales with scan throughput.
    *
    * Codegen: the production path runs two custom primitive-loop
    * expressions ([[graft.functions.FloatVecMaxAbs]] /
    * [[graft.functions.QuantizeInt8Codes]], the FloatVecDot pattern) —
    * measured 46.9x faster than the interpreted-HOF formulation this
    * replaced (BENCH.md round-5 A/B: 12.35 s -> 0.26 s, 2M x 64-dim).
    * The HOF form survives in `PipelineSpec` as the executable
    * reference semantics the kernel is pinned against
    * element-for-element (incl. NaN/Inf-poisoned and null-element
    * vectors).
    */
  def quantizeInt8(df: DataFrame, idCol: String = "vec_id",
                   embCol: String = "embedding"): DataFrame = {
    import graft.functions.VectorFunctions.{floatVecMaxAbs, quantizeInt8Codes}
    df.select(
      col(idCol),
      (floatVecMaxAbs(col(embCol)) / lit(127.0f)).cast("float").as("scale"),
      quantizeInt8Codes(col(embCol)).as("q"))
  }

  /** Inverse of [[quantizeInt8]]: per-element `q_i * scale` (float32). */
  def dequantizeInt8(scaleCol: String = "scale", qCol: String = "q"): Column =
    transform(col(qCol), q => (q.cast("float") * col(scaleCol)).cast("float"))

  /** Embedding-cosine near-duplicate pairs, exact: every (id_a < id_b)
    * pair with cosine >= tau. O(n^2) by definition — the correctness
    * baseline and the oracle-checked form; at corpus scale use
    * [[srpNearDupPairs]], which buckets by sign-random-projection bits
    * first.
    */
  def cosineNearDupPairs(df: DataFrame, tau: Double,
                         idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(embCol).as("a_emb"), l2Norm(col(embCol)).as("a_nrm"))
    val b = df.select(col(idCol).as("id_b"), col(embCol).as("b_emb"), l2Norm(col(embCol)).as("b_nrm"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (try_divide(dot(col("a_emb"), col("b_emb")), col("a_nrm") * col("b_nrm"))).as("cos"))
      // Spark evaluates NaN >= tau as TRUE (NaN sorts above all), so a
      // zero-norm vector would pair with every document without this
      .filter(!isnan(col("cos")) && col("cos") >= tau)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Sign-random-projection LSH for cosine near-dup at scale: `planes`
    * seeded Gaussian hyperplanes give each vector a sign bit string;
    * vectors sharing all `planes/bands` bits of any band become
    * candidates (bucket join, capped like the MinHash path), then exact
    * cosine verifies. P(bit agrees) = 1 - angle/pi, so recall is high
    * for genuinely-near pairs (cos >= 0.9 => ~0.95+ at 16/4) and exact
    * copies are certain (identical bits). The hyperplanes are
    * deterministic literals broadcast inside the plan — no driver state,
    * reproducible across runs and cluster sizes.
    */
  def srpNearDupPairs(df: DataFrame, tau: Double, dim: Int,
                      planes: Int = 16, bands: Int = 4, seed: Long = 42L,
                      maxBucket: Int = 4096,
                      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    require(planes % bands == 0, "planes must divide into bands")
    // FloatVecDot dots over min(length) — a wrong `dim` would silently
    // project onto a prefix subspace and lose recall with no error, so
    // check it against the data. A bounded sample (not one arbitrary
    // row: null embeddings would NPE, and ragged dims beyond that row
    // would pass silently; not a full scan: this is a guard, not a job)
    // is aggregated to min/max size — any disagreement fails loud.
    val szs = df.select(size(col(embCol)).as("__sz"))
      .filter(col("__sz").isNotNull).limit(1024)
      .agg(min(col("__sz")).as("mn"), max(col("__sz")).as("mx")).collect()(0)
    if (!szs.isNullAt(0)) {
      require(szs.getInt(0) == dim && szs.getInt(1) == dim,
        s"dim=$dim but $embCol sizes in sample span [${szs.getInt(0)}, ${szs.getInt(1)}]")
    }
    val rnd = new scala.util.Random(seed)
    val hyper = Seq.fill(planes)(Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)
    val base = df.select(col(idCol).as("id"), col(embCol).as("emb"),
      l2Norm(col(embCol)).as("nrm"))
    val signs = hyper.map(h => (dot(col("emb"), typedLit(h)) > 0).cast("int"))
    val rpb = planes / bands
    val bandVals = (0 until bands).map { b =>
      (0 until rpb).map(j => signs(b * rpb + j) * lit(1 << j)).reduce(_ + _)
    }
    // same proxy materialization as minhashPairs' signature table: the
    // (id, band, bandVal) rows (12 B each) feed the bucket-cap counts
    // and both self-join sides with non-reusable exchanges — lazy, the
    // 16 hyperplane dot products per vector ran ~3x per call
    val banded = Dedup.capBuckets(
      base.select(col("id"), posexplode(array(bandVals: _*)).as(Seq("band", "bandVal")))
        .localCheckpoint(eager = false), // capBuckets' count materializes it
      Seq("band", "bandVal"), maxBucket)
    val candidates = banded.select(col("band"), col("bandVal"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("bandVal"), col("id").as("id_b")),
        Seq("band", "bandVal"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val a = base.select(col("id").as("id_a"), col("emb").as("a_emb"), col("nrm").as("a_nrm"))
    val b = base.select(col("id").as("id_b"), col("emb").as("b_emb"), col("nrm").as("b_nrm"))
    candidates.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (try_divide(dot(col("a_emb"), col("b_emb")), col("a_nrm") * col("b_nrm"))).as("cos"))
      .filter(!isnan(col("cos")) && col("cos") >= tau) // NaN >= tau is TRUE in Spark
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** Assign each vector to its nearest centroid. The argmin aggregation
    * carries ONLY (id, centroid) through the exchange — the embedding
    * payload stays out of the shuffle and is re-attached by joining the
    * (narrow, typically broadcastable) assignment back to the vector
    * table. The `min(struct(dist, id))` form partial-aggregates
    * map-side, so the shuffle sees one narrow row per vector per task.
    */
  def assignToCentroids(df: DataFrame, centroids: DataFrame,
                        idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    val cents = centroids.select(col(idCol).as("centroid_id"), col(embCol).as("cent_emb"),
      l2Norm(col(embCol)).as("cent_norm"))
    val assignment = df
      .select(col(idCol), col(embCol), l2Norm(col(embCol)).as("__norm"))
      .crossJoin(broadcast(cents))
      .select(col(idCol),
        struct(
          (-round(try_divide(dot(col(embCol), col("cent_emb")), col("__norm") * col("cent_norm")), 9)).as("d"),
          col("centroid_id")).as("cand"))
      .filter(col("cand.d").isNotNull && !isnan(col("cand.d"))) // null/zero-norm embedding -> no assignment (see bruteForceTopK)
      .groupBy(col(idCol))
      .agg(min(col("cand")).as("best"))
      .select(col(idCol), col("best.centroid_id").as("centroid_id"))
    df.select(col(idCol), col(embCol)).join(assignment, idCol)
  }

  /** Lloyd's k-means over the embedding column — trains the centroid
    * table [[ivfTopK]] consumes (cosine geometry: assignment maximizes
    * cosine, the update is the element-wise mean, i.e. spherical k-means
    * up to normalization, which cosine assignment ignores anyway).
    *
    * Scale shape: each iteration is ONE pass over the vectors — the
    * broadcast-centroid argmin assignment from [[assignToCentroids]]
    * (only (id, centroid) through the exchange) plus a (centroid, pos)
    * mean over k*dim rows (tiny). Init is deterministic (the k
    * lowest-id vectors), so trained centroids are reproducible across
    * runs and cluster sizes. A cluster that loses all members drops out
    * (standard Lloyd's behavior; callers needing exactly k can re-seed).
    */
  def kmeansCentroids(df: DataFrame, k: Int, iters: Int = 5,
                      idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    requireIntegralId(df, idCol)
    var cents = df.select(col(idCol), col(embCol)).orderBy(col(idCol)).limit(k)
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val assigned = assignToCentroids(df, cents, idCol, embCol)
      val means = assigned
        .select(col("centroid_id"), posexplode(col(embCol)).as(Seq("pos", "v")))
        .groupBy("centroid_id", "pos")
        .agg(avg(col("v")).as("m"))
      // localCheckpoint each round (k rows): without it the lazy plan
      // nests one full assignment pass per iteration and every reuse
      // re-executes the whole cascade — and avg() over doubles is not
      // bitwise-reproducible across shuffle-merge orders, so a
      // re-execution could even train DIFFERENT centroids
      val prev = cents
      cents = means.groupBy("centroid_id")
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).getField("m")
          .cast("array<float>").as(embCol))
        .select(col("centroid_id").as(idCol), col(embCol))
        .localCheckpoint()
      // round's checkpoint is materialized -> free the previous round's
      // blocks (k rows each, but they'd otherwise accumulate per iter)
      org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(prev)
    }
    cents
  }

  /** IVF search: probe the query's nearest `nprobe` centroid buckets
    * only. Deterministic centroids make this reproducible; recall vs
    * [[bruteForceTopK]] is asserted in tests. Both rankings (probe
    * selection and final top-k) are bounded-heap aggregations — no
    * global windows anywhere in the plan.
    */
  def ivfTopK(queries: DataFrame, candidates: DataFrame, centroids: DataFrame,
              k: Int, nprobe: Int = 2,
              idCol: String = "vec_id", embCol: String = "embedding"): DataFrame = {
    requireIntegralId(candidates, idCol)
    requireIntegralId(centroids, idCol)
    // the centroid plan is consumed twice (bucket assignment + probe
    // selection); freeze ONE execution so a non-trivial upstream plan
    // (e.g. an uncheckpointed trainer) can't run twice or diverge
    val centsFrozen = centroids.select(col(idCol), col(embCol)).localCheckpoint()
    val cents = centsFrozen.select(col(idCol).as("centroid_id"), col(embCol).as("cent_emb"),
      l2Norm(col(embCol)).as("cent_norm"))
    val bucketed = assignToCentroids(candidates, centsFrozen, idCol, embCol)
      .select(col(idCol).as("cand_id"), col(embCol).as("c_emb"),
        l2Norm(col(embCol)).as("c_norm"), col("centroid_id"))

    // nprobe nearest centroids per query: same bounded-heap shape (the
    // score is the NEGATED rounded distance so "best" = nearest; the
    // centroid-id-asc tiebreak matches the distance-then-id ordering)
    val probes = queries.select(col(idCol).as("query_id"), col(embCol).as("q_emb"),
        l2Norm(col(embCol)).as("q_norm"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        round(try_divide(dot(col("q_emb"), col("cent_emb")), col("q_norm") * col("cent_norm")), 9).as("sim"),
        col("centroid_id"))
      .filter(col("sim").isNotNull && !isnan(col("sim"))) // null/zero-norm query or centroid (see bruteForceTopK)
      .groupBy("query_id")
      .agg(first(col("q_emb")).as("q_emb"), first(col("q_norm")).as("q_norm"),
        topK(nprobe)(col("sim"), col("centroid_id").cast("long")).as("top"))
      .select(col("query_id"), col("q_emb"), col("q_norm"),
        explode(col("top")).as("s"))
      .select(col("query_id"), col("q_emb"), col("q_norm"), col("s._2").as("centroid_id"))

    val scored = bucketed.join(broadcast(probes),
        bucketed("centroid_id") === probes("centroid_id"))
      .select(col("query_id"), col("cand_id"),
        round(try_divide(dot(col("q_emb"), col("c_emb")), col("q_norm") * col("c_norm")), 6).as("sim"))
      .filter(col("sim").isNotNull && !isnan(col("sim"))) // null/zero-norm candidate (see bruteForceTopK)
    explodeRanked(
      scored.groupBy("query_id")
        .agg(topK(k)(col("sim"), col("cand_id").cast("long")).as("top")),
      "query_id")
  }
}
