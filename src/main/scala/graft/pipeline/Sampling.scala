package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic hash-based sampling for training-data pipelines.
  *
  * `df.sample()` is seed-stable only for a fixed partitioning — repartition
  * the input (or rescale the cluster) and the sampled SET changes. These
  * operators decide membership from a content hash of a stable key, so the
  * sample is a pure function of the data: identical across runs, partition
  * layouts and cluster sizes, and any row's membership can be re-derived
  * (and audited) after the fact. Sampling is a narrow map-side filter —
  * no shuffle, no state, scales linearly.
  *
  * Membership hashes are md5-derived (replayable): every stage is
  * reproducible in another SQL engine, so an external oracle can replay
  * membership exactly.
  *
  * Buckets are PER-MILLION: a key lands in [0, 1e6) and survives when
  * bucket < rate * 1e6 — rates are exact to 1e-6, which also makes nested
  * samples monotone (rate 0.1 of a key set is a subset of rate 0.2 with
  * the same salt).
  *
  * Null keys have no identity to hash: every null-keyed row shares one
  * bucket and is kept all-or-nothing per salt. Sample on a non-null key
  * (a primary key, a content hash) — filter or backfill nulls first if
  * the key column can carry them.
  */
object Sampling {

  private val Buckets = 1000000L

  private def rateToBucket(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"sample rate must be in [0,1], got $rate")
    math.round(rate * Buckets)
  }

  /** Per-million bucket from the first 15 hex chars of md5(key || salt)
    * (60 bits, uniform) — replayable in any engine with md5.
    */
  def bucketMd5(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit(salt))), 1, 15), 16, 10)
      .cast("long") % Buckets

  /** Fixed-rate deterministic sample: keep a row iff its key's md5
    * bucket falls under `rate`. Same (key, salt) -> same decision,
    * everywhere.
    */
  def hashSampleMd5(df: DataFrame, rate: Double, keyCol: String,
                    salt: String = ""): DataFrame =
    df.filter(bucketMd5(col(keyCol), salt) < rateToBucket(rate))

  /** Stratified deterministic sample — the data-mixing primitive: each
    * stratum (domain, language, quality band, ...) keeps its own rate,
    * unlisted strata keep `defaultRate`. The rate lookup compiles to a
    * literal CASE chain (strata maps are small by nature); membership
    * stays a per-row filter with no shuffle.
    */
  def stratifiedSampleMd5(df: DataFrame, keyCol: String, stratumCol: String,
                          rates: Map[String, Double], defaultRate: Double = 0.0,
                          salt: String = ""): DataFrame =
    df.filter(bucketMd5(col(keyCol), salt) < rateCase(stratumCol, rates, defaultRate))

  private def rateCase(stratumCol: String, rates: Map[String, Double],
                       defaultRate: Double): Column =
    rates.toSeq.sortBy(_._1).foldLeft(lit(rateToBucket(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(stratumCol) === stratum, lit(rateToBucket(rate))).otherwise(acc)
    }

  /** Deterministic FRACTIONAL up-sampling — training-mix weights above
    * 1 ("this source gets 2.3 epochs"): every row is emitted
    * floor(rate) times, and an md5-selected `rate - floor(rate)`
    * fraction of rows once more. The extra-copy decision reuses the
    * same per-million bucket rule as [[hashSampleMd5]], so it is a pure
    * function of (key, salt) — identical across runs, partition layouts
    * and cluster sizes, and replayable by an external oracle. Output
    * carries `copy_idx` (0-based) so downstream shuffles, dedup keys,
    * and shard assignment can distinguish copies. Rates below 1 degrade
    * to plain sampling (0 or 1 copies) — same rule, one operator.
    *
    * Scale shape: a per-row generate (explode of a 0..n-1 sequence) —
    * no shuffle, no state; output size is exactly rate * |input| in
    * expectation with deterministic membership.
    */
  def upsampleMd5(df: DataFrame, rate: Double, keyCol: String,
                  salt: String = ""): DataFrame = {
    // same contract as mixWeightsMd5's per-stratum weights: a negative
    // or NaN rate would silently wipe the dataset otherwise
    require(rate >= 0.0, s"up-sample rate must be >= 0, got $rate")
    explodeCopies(df, copiesFor(lit(weightFloor(rate)), lit(weightFrac(rate)), keyCol, salt))
  }

  /** Deterministic per-group reservoir sample: EXACTLY min(k, |group|)
    * rows per group, chosen as the k smallest 52-bit md5 values of
    * (key, salt) — a uniform without-replacement sample that is a pure
    * function of (key, salt), layout-invariant and replayable (unlike
    * `rand()`-ranked reservoirs). The rate-based samplers
    * ([[hashSampleMd5]]) give binomial SIZES; this gives the fixed
    * per-group budget an eval-set builder needs.
    *
    * Scale shape: the hash ranking goes through the bounded-heap
    * [[graft.functions.TopK]] aggregator (map-side partial, <= k ids
    * per group per task through the exchange — never a per-group
    * row_number window); the winner set is |groups| x k ids and
    * BROADCASTS back onto the corpus, so full rows never shuffle.
    * 52 hex-derived bits keep the hash exact in a double (2^52 < 2^53);
    * ties are broken by key string, so even a collision is
    * deterministic.
    *
    * SCALE BOUND: the winner set (|groups| x k key strings) is
    * force-broadcast back onto the corpus — that is the whole point
    * (full rows never shuffle), but it means this operator is sized for
    * MODEST group cardinality (eval-set strata: languages, sources,
    * domains — thousands of groups, not per-user millions). At
    * |groups| x k x avg-key-bytes beyond the executor/driver broadcast
    * budget (~hundreds of MB), switch the group column to a coarser
    * stratum or use [[hashSampleMd5]] rate-based sampling instead.
    */
  def reservoirByGroupMd5(df: DataFrame, k: Int, keyCol: String, groupCol: String,
                          salt: String = ""): DataFrame = {
    require(k > 0, s"reservoir size must be positive, got $k")
    val keyStr = col(keyCol).cast("string")
    topKeySemiJoin(df, k, keyStr, col(groupCol),
      eligible = keyStr.isNotNull, score = -hash52Md5(keyStr, salt))
  }

  /** 52-bit md5 value as an EXACT double (13 hex chars, 2^52 < 2^53) —
    * the ranking hash for the reservoir samplers. (The membership
    * samplers above use the 60-bit/mod-1e6 [[bucketMd5]] variant; 60
    * bits would lose low bits in a double, 52 do not.)
    */
  private def hash52Md5(keyStr: Column, salt: String): Column =
    conv(substring(md5(concat(keyStr, lit(salt))), 1, 13), 16, 10).cast("double")

  /** Shared reservoir scaffold: rank `eligible` rows by `score` through
    * the bounded-heap TopK per group, then keep the winners with a
    * broadcast LEFT SEMI (|groups| x k ids — full rows never shuffle).
    * The OUTER side applies the same eligibility filter, so an
    * ineligible row (null key, non-positive weight) can never ride back
    * in on a picked key it happens to share. `keyCol` is a row identity
    * (as for every md5 sampler in this file): duplicate (group, key)
    * rows would occupy multiple heap slots and all return on the semi
    * join — uniqueness is the caller's contract.
    */
  private def topKeySemiJoin(df: DataFrame, k: Int, keyStr: Column, group: Column,
                             eligible: Column, score: Column): DataFrame = {
    val picked = df.filter(eligible)
      .select(group.as("__g"), keyStr.as("__k"), score.as("__s"))
      .groupBy(col("__g"))
      .agg(graft.functions.TopK.topKStr(k)(col("__s"), col("__k")).as("__top"))
      .select(col("__g"), explode(col("__top")).as("__e"))
      .select(col("__g"), col("__e._2").as("__k"))
    df.filter(eligible).join(broadcast(picked),
      keyStr === col("__k") && group <=> col("__g"), "left_semi")
  }

  /** Weighted per-group reservoir (Efraimidis-Spirakis A-ES): keep the
    * k rows per group with the LARGEST `u^(1/w)` — equivalently the
    * largest `ln(u)/w`, the form used here (pow is the least
    * cross-libm-stable kernel; ln is faithful everywhere) — where `u`
    * is the md5-derived uniform `(h52 + 0.5) / 2^52`. Inclusion
    * probability is proportional to weight (a quality score, a
    * dedup-cluster size), membership stays a pure function of
    * (key, salt, weight): the weighted companion to
    * [[reservoirByGroupMd5]], same TopK bounded heap, same broadcast
    * LEFT SEMI join-back, full rows never shuffle — and the same
    * |groups| x k broadcast SCALE BOUND (see [[reservoirByGroupMd5]]:
    * sized for modest group cardinality, not per-user groups). Rows
    * with non-positive or null weight are excluded (ln(u)/w flips sign
    * at w <= 0 and would win every heap).
    */
  def weightedReservoirByGroupMd5(df: DataFrame, k: Int, keyCol: String,
                                  groupCol: String, weightCol: String,
                                  salt: String = ""): DataFrame = {
    require(k > 0, s"reservoir size must be positive, got $k")
    val keyStr = col(keyCol).cast("string")
    val u = (hash52Md5(keyStr, salt) + lit(0.5)) / lit(4503599627370496.0d) // 2^52; u in (0,1)
    topKeySemiJoin(df, k, keyStr, col(groupCol),
      eligible = keyStr.isNotNull && col(weightCol).cast("double") > 0.0,
      score = log(u) / col(weightCol).cast("double"))
  }

  /** Temperature-balanced mixture rates (the multilingual-LM standard:
    * sample group s with probability proportional to `p_s^alpha`,
    * alpha in (0, 1] — alpha 1 keeps the natural distribution, smaller
    * alpha up-weights low-resource groups). Since
    * `(c_s/T)^a / sum (c_t/T)^a = c_s^a / sum c_t^a` the T^a cancels;
    * `epochs` is the per-row duplication factor that realizes the
    * target distribution at the SAME total row budget — feed it to
    * [[mixWeightsMd5]] as the per-stratum weight map.
    *
    * Scale shape: one count aggregation (map-side combined) to
    * |groups| rows; the normalizers fold off that aggregate as a
    * broadcast one-row aggregate — no second corpus pass, nothing
    * data-sized at the driver.
    */
  def temperatureMixRates(df: DataFrame, groupCol: String, alpha: Double): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"temperature alpha must be in (0,1], got $alpha")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_rows"))
    val tots = counts.agg(sum(col("n_rows")).cast("double").as("__t"),
      sum(pow(col("n_rows").cast("double"), lit(alpha))).as("__z"))
    counts.crossJoin(broadcast(tots))
      .select(col(groupCol), col("n_rows"),
        round(col("n_rows") / col("__t"), 6).as("p"),
        round(pow(col("n_rows").cast("double"), lit(alpha)) / col("__z"), 6).as("q"),
        round(pow(col("n_rows").cast("double"), lit(alpha)) / col("__z") * col("__t")
          / col("n_rows"), 6).as("epochs"))
  }

  /** The general data-mixing primitive: one WEIGHT per stratum, any
    * value >= 0 — below 1 down-samples (0 or 1 copies), above 1
    * up-samples (floor + md5-selected fraction), so one rule covers
    * "2.3 epochs of wiki, 40% of crawl, drop the rest". Strata compile
    * to a literal CASE chain; membership and copy count stay a pure
    * function of (key, salt) — deterministic across layouts and
    * replayable. Subsumes [[stratifiedSampleMd5]] (weights <= 1,
    * minus the copy_idx column) and [[upsampleMd5]] (one stratum).
    */
  def mixWeightsMd5(df: DataFrame, keyCol: String, stratumCol: String,
                    weights: Map[String, Double], defaultWeight: Double = 0.0,
                    salt: String = ""): DataFrame = {
    (weights.values ++ Seq(defaultWeight)).foreach(w =>
      require(w >= 0.0, s"mix weight must be >= 0, got $w"))
    def cases(f: Double => Long): Column =
      weights.toSeq.sortBy(_._1).foldLeft(lit(f(defaultWeight))) {
        case (acc, (stratum, w)) =>
          when(col(stratumCol) === stratum, lit(f(w))).otherwise(acc)
      }
    explodeCopies(df,
      copiesFor(cases(weightFloor), cases(weightFrac), keyCol, salt))
  }

  /** Deterministic train/val/test split assignment: consecutive bucket
    * RANGES of the per-million rule, so the splits are a pure function
    * of (key, salt), mutually DISJOINT and jointly exhaustive over the
    * declared fractions by construction — no row can land in two
    * splits, ever, across runs, layouts, or cluster sizes (the property
    * leakage audits need). Fractions must sum to <= 1; rows falling in
    * the residual bucket range (if the sum is < 1) are dropped —
    * holding data out IS a split decision, so it is explicit here.
    * Order matters: ranges are assigned in the given sequence, making
    * e.g. `train` grow monotonically if its fraction is later raised
    * while `val`/`test` stay FIXED when listed first.
    */
  def assignSplitsMd5(df: DataFrame, keyCol: String, splits: Seq[(String, Double)],
                      salt: String = ""): DataFrame = {
    require(splits.nonEmpty, "at least one split required")
    splits.foreach { case (n, f) =>
      require(f >= 0.0 && f <= 1.0, s"split fraction for $n must be in [0,1], got $f") }
    require(splits.map(_._2).sum <= 1.0 + 1e-9,
      s"split fractions sum to ${splits.map(_._2).sum} > 1")
    // withColumn would silently OVERWRITE an existing split column
    // (e.g. re-splitting already-assigned output) — fail loud, matching
    // explodeCopies/shardAssignMd5
    require(!df.columns.contains("split"),
      "input already carries a split column; rename it before re-splitting")
    val bounds = splits.scanLeft(0L) { case (acc, (_, f)) =>
      acc + math.round(f * Buckets) }.tail
    val bucket = bucketMd5(col(keyCol), salt)
    val label = splits.map(_._1).zip(bounds).reverse
      .foldLeft(lit(null).cast("string")) { case (acc, (name, hi)) =>
        when(bucket < hi, lit(name)).otherwise(acc)
      }
    df.withColumn("split", label).filter(col("split").isNotNull)
  }

  private def weightFloor(w: Double): Long = math.floor(w).toLong
  private def weightFrac(w: Double): Long = math.round((w - math.floor(w)) * Buckets)

  private def copiesFor(whole: Column, fracBucket: Column,
                        keyCol: String, salt: String): Column =
    whole + when(bucketMd5(col(keyCol), salt) < fracBucket, 1L).otherwise(0L)

  private def explodeCopies(df: DataFrame, copies: Column): DataFrame = {
    // withColumn would silently OVERWRITE an existing copy_idx (e.g.
    // re-weighting already-upsampled output), collapsing previously
    // distinct copies — fail loud instead
    require(!df.columns.contains("copy_idx") && !df.columns.contains("__copies"),
      "input already carries a copy_idx/__copies column; rename it before re-sampling")
    // sequence(0, -1) would yield [0, -1] (Spark defaults to step -1
    // when start > stop), so zero-copy rows take an explicit empty
    // array — explode drops them
    df.withColumn("__copies", copies)
      .withColumn("copy_idx",
        explode(when(col("__copies") > 0, sequence(lit(0L), col("__copies") - 1))
          .otherwise(array().cast("array<bigint>"))))
      .drop("__copies")
  }

  /** Deterministic training-shard assignment — the physical-layout step
    * a shard writer needs: `shard` = 60-bit md5 value mod `numShards`
    * (uniform, layout-invariant), `shard_pos` = the row's rank within
    * its shard under the (hash, key) total order. The plan is exactly
    * the write shape: ONE shuffle on `shard`, then a per-shard sort —
    * the same exchange a `repartition(shard).sortWithinPartitions`
    * writer would run, so the operator adds nothing beyond what the
    * write itself costs. Deterministic: same (data, salt, numShards) ->
    * same (shard, shard_pos) everywhere.
    */
  def shardAssignMd5(df: DataFrame, numShards: Int, keyCol: String,
                     salt: String = ""): DataFrame = {
    require(numShards > 0, s"numShards must be > 0, got $numShards")
    require(Seq("shard", "shard_pos", "__h").forall(!df.columns.contains(_)),
      "input already carries a shard/shard_pos/__h column; rename it before shard assignment")
    val h60 = conv(substring(md5(concat(col(keyCol).cast("string"), lit(salt))), 1, 15), 16, 10)
      .cast("long")
    import org.apache.spark.sql.expressions.Window
    df.withColumn("__h", h60)
      .withColumn("shard", pmod(col("__h"), lit(numShards.toLong)))
      .withColumn("shard_pos",
        row_number().over(
          Window.partitionBy(col("shard"))
            .orderBy(col("__h"), col(keyCol))).cast("long") - 1L)
      .drop("__h")
  }

  /** Per-group cap: keep the best `n` rows of each group under
    * (score DESC, id ASC) — the domain-balancing primitive (cap docs
    * per source/domain so one crawl host cannot dominate the mix).
    * Returns (group, id, score, rank) with rank 1..n, deterministic.
    * Ids may be integral (returned widened to long, numeric ASC
    * tiebreak) or string (URL/content-hash ids, lexical ASC tiebreak);
    * any other id type fails loud at plan time. Scores must be numeric
    * (returned as double). Rows with a null score or null id cannot be
    * ranked and are dropped before aggregation.
    *
    * Scale shape: a bounded top-k heap per group
    * ([[graft.functions.TopKAggregator]]) — map-side partial
    * aggregation caps each task's contribution at n rows per group, so the
    * exchange carries O(groups * n * tasks), NOT the
    * `row_number().over(Window.partitionBy(group))` shape that shuffles
    * and sorts EVERY row of a hot domain into one partition (the skew
    * cliff this operator exists to prevent).
    */
  def capPerGroup(df: DataFrame, n: Int, groupCol: String, scoreCol: String,
                  idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.types._
    require(n > 0, s"cap must be > 0, got $n")
    require(df.schema(scoreCol).dataType.isInstanceOf[NumericType],
      s"capPerGroup score column '$scoreCol' must be numeric, got " +
        s"${df.schema(scoreCol).dataType} (ranking needs a numeric order)")
    // null score/id rows cannot be ranked deterministically — drop them
    // up front (the aggregator's tuple encoder is non-nullable)
    val clean = df.filter(col(scoreCol).isNotNull && col(idCol).isNotNull)
    val top = df.schema(idCol).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        graft.functions.TopK.topK(n)(col(scoreCol).cast("double"), col(idCol).cast("long"))
      case StringType =>
        graft.functions.TopK.topKStr(n)(col(scoreCol).cast("double"), col(idCol))
      case dt => throw new IllegalArgumentException(
        s"capPerGroup id column '$idCol' must be integral (numeric id ASC tiebreak) " +
          s"or string (lexical ASC tiebreak), got $dt — cast explicitly to choose")
    }
    clean.groupBy(col(groupCol))
      .agg(top.as("__top"))
      .select(col(groupCol), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col(groupCol), col("__t._2").as(idCol),
        col("__t._1").as(scoreCol), (col("__pos") + 1).cast("long").as("rank"))
  }
}
