package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.datasketches.tdigest.TDigestDouble
import graft.exprs.ConstraintCompiler.tableColumn

/** Column statistics (north_rule): count / null-rate / min / max /
  * distinct (HyperLogLog++ via Spark's built-in `approx_count_distinct`)
  * / approximate quantiles via a t-digest typed [[Aggregator]] wrapping
  * `datasketches-java`'s `TDigestDouble`.
  *
  * Everything runs in ONE wide `agg(...)` over the scan — the stats pass
  * shares the single-pass physical property of the validator (SURVEY.md
  * §4.4). The t-digest buffer is a live sketch object held by Spark's
  * ObjectHashAggregate; it serializes (kryo) only on spill/shuffle, and
  * partial sketches merge associatively across partitions — the same
  * merge tree a 1000-executor cluster would run.
  */
object Stats {

  /** t-digest quantile aggregator: IN = boxed column value (null =
    * missing), BUF = mutable sketch, OUT = quantiles at `probs`.
    */
  final class TDigestQuantiles(probs: Seq[Double], k: Short = TDigestDouble.DEFAULT_K)
      extends Aggregator[java.lang.Double, TDigestDouble, Array[Double]] {
    override def zero: TDigestDouble = new TDigestDouble(k)
    override def reduce(b: TDigestDouble, a: java.lang.Double): TDigestDouble = {
      if (a != null) b.update(a)
      b
    }
    override def merge(b1: TDigestDouble, b2: TDigestDouble): TDigestDouble = {
      b1.merge(b2); b1
    }
    override def finish(r: TDigestDouble): Array[Double] =
      if (r.isEmpty) Array.empty else probs.map(r.getQuantile).toArray
    override def bufferEncoder: Encoder[TDigestDouble] = Encoders.kryo[TDigestDouble]
    override def outputEncoder: Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Quantile column built from the typed aggregator. */
  def quantileAgg(c: Column, probs: Seq[Double]): Column = {
    val agg = udaf(new TDigestQuantiles(probs), Encoders.DOUBLE)
    agg(c.cast("double"))
  }

  /** Rows whose `valueExpr` (any SQL expression over the row) reaches
    * the corpus's exact q-quantile — the quality-cutoff primitive
    * ("keep docs above the median quality score"). The threshold comes
    * from ONE exact-percentile aggregation (interpolated; equal to
    * quantile_cont, as the stats_quantiles gate proves) attached by a
    * broadcast cross-join of a single row, so the filter itself stays
    * a map-side scan.
    *
    * Scale note: the exact percentile buffers one entry per DISTINCT
    * value of `valueExpr` on the final reducer — fine for
    * low-cardinality measures (lengths, counts, bucketed scores) and
    * for oracle replays, wrong for a continuous score over a 100-TB
    * corpus, where `approx_percentile` (a bounded-memory mergeable
    * sketch) in the same plan shape is the threshold to use.
    */
  def aboveQuantileExact(df: DataFrame, valueExpr: String, q: Double): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    val thr = df.agg(expr(s"percentile($valueExpr, $q)").as("__thr"))
    df.crossJoin(broadcast(thr))
      .filter(expr(valueExpr).cast("double") >= col("__thr").cast("double"))
      .drop("__thr")
  }

  /** Per-GROUP quantile cutoff (the CCNet per-language form of
    * [[aboveQuantileExact]]): a row is kept iff `valueExpr` reaches the
    * q-quantile of its OWN group's distribution — one threshold per
    * language/domain/source, so a low-resource group is not filtered
    * against the dominant group's distribution. A NULL group is a
    * group like any other (null-safe threshold join), not a silent
    * drop.
    *
    * Scale shape: thresholds come from ONE groupBy(group) percentile
    * aggregation — |groups| rows, broadcast-sized by construction —
    * attached with a broadcast null-safe equi-join; the filter stays a
    * map-side scan. Same scale note as the global cutoff: exact buffers
    * one entry per DISTINCT value per group on the reducers.
    */
  def aboveQuantileByGroupExact(df: DataFrame, valueExpr: String, q: Double,
                                groupCol: String): DataFrame = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    require(!df.columns.contains("__grp") && !df.columns.contains("__thr"),
      "input already carries a __grp/__thr column; rename it before the cutoff")
    val thr = df.groupBy(col(groupCol).as("__grp"))
      .agg(expr(s"percentile($valueExpr, $q)").as("__thr"))
    df.join(broadcast(thr), col(groupCol) <=> col("__grp"))
      .filter(expr(valueExpr).cast("double") >= col("__thr").cast("double"))
      .drop("__grp", "__thr")
  }

  /** Per-group z-score outlier detection: rows whose value sits
    * `threshold` or more POPULATION standard deviations from their own
    * group's mean — the monitoring companion to the drift statistics
    * (drift says the distribution moved; this names the rows). The
    * variance is computed two-pass (per-group mean first, then summed
    * squared deviations from it) — numerically safe where the one-pass
    * moment identity cancels catastrophically; degenerate groups (zero
    * variance, single row) flag nothing rather than dividing by zero.
    * Null values are never outliers.
    *
    * Scale shape: one map-side-combining moments aggregation to
    * |groups| rows, broadcast back (null-safe join, a NULL group is a
    * group); the flagging filter stays a map-side scan. Output keeps
    * the input schema plus a rounded `zscore` column.
    */
  def zscoreOutliers(df: DataFrame, valueCol: String, groupCol: String,
                     threshold: Double = 3.0): DataFrame = {
    require(threshold > 0.0, s"threshold must be positive, got $threshold")
    require(!df.columns.exists(Set("__grp", "__m", "__ss", "__n", "zscore")),
      "input already carries a __grp/__m/__ss/__n/zscore column; rename it first")
    val v = col(valueCol).cast("double")
    // Two-pass centered variance: pass 1 gets the per-group mean, pass 2
    // sums squared deviations FROM that mean. The one-pass identity
    // E[v^2]-E[v]^2 suffers catastrophic cancellation for groups with
    // large mean and small relative variance (epoch-like values collapse
    // the variance to 0 and flag nothing); centering first keeps every
    // addend small. Both passes are map-side-combining aggregations to
    // |groups| rows, so the extra scan buys numerical safety without a
    // data-sized shuffle. Sum of squares is >= 0 by construction — no
    // greatest(...,0) clamp to hide a failure behind.
    val means = df.groupBy(col(groupCol).as("__grp"))
      .agg((sum(v) / count(v)).as("__m"), // count(v): nulls don't shrink the mean
        count(v).as("__n"))
    val moments = df.join(broadcast(means), col(groupCol) <=> col("__grp"))
      .groupBy(col("__grp"), col("__m"), col("__n")) // __m/__n fold into the __grp key
      .agg(sum((v - col("__m")) * (v - col("__m"))).as("__ss"))
    val mean = col("__m")
    val sd = sqrt(col("__ss") / col("__n"))
    df.join(broadcast(moments), col(groupCol) <=> col("__grp"))
      .filter(sd > 0.0 && v.isNotNull && abs((v - mean) / sd) >= threshold)
      .withColumn("zscore", round((v - mean) / sd, 6))
      .drop("__grp", "__m", "__ss", "__n")
  }

  /** Per-group CDF (rank) normalization: each row gains the fraction of
    * its group strictly below its value — the score-calibration
    * transform that makes thresholds comparable across groups with
    * different score distributions (a 0.9 means the same thing in
    * every language). `cdf = |{v' < v}| / n`, exact integer counts, so
    * the output is bit-deterministic (no percentile interpolation).
    * Rows with a null group or value are excluded (no rank is
    * defined for them).
    *
    * Scale shape: the ranking window runs over the AGGREGATED
    * (group, value, count) table — partition sizes bounded by distinct
    * values per group, never row counts — and the result joins back by
    * (group, value); totals are a |groups|-row aggregate. The classic
    * unscalable form (percent_rank over raw rows) shuffles and sorts
    * the full table per group; this shape only ever sorts distinct
    * values.
    */
  def cdfByGroup(df: DataFrame, valueCol: String, groupCol: String): DataFrame = {
    require(!df.columns.exists(Set("__g", "__g2", "__v", "__c", "__below", "__n", "cdf")),
      "input already carries a __g/__g2/__v/__c/__below/__n/cdf column; rename it first")
    val vc = df.filter(col(groupCol).isNotNull && col(valueCol).isNotNull)
      .groupBy(col(groupCol).as("__g"), col(valueCol).as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("__g").orderBy("__v")
    val cum = vc.withColumn("__below", sum(col("__c")).over(w) - col("__c"))
    val tot = vc.groupBy("__g").agg(sum(col("__c")).as("__n"))
    df.join(cum, col(groupCol) === col("__g") && col(valueCol) === col("__v"))
      .join(broadcast(tot.withColumnRenamed("__g", "__g2")), col(groupCol) === col("__g2"))
      .withColumn("cdf", round(col("__below").cast("double") / col("__n"), 6))
      .drop("__g", "__v", "__c", "__below", "__g2", "__n")
  }

  /** Quantile-bucket assignment (the CCNet head/middle/tail shape):
    * split rows into `labels.size` buckets at the quantile fractions
    * `qs` of `valueExpr` — labels ordered LOW to HIGH score, a row
    * lands in the highest bucket whose threshold it meets (`>=`, the
    * same boundary [[aboveQuantileExact]] uses; a NULL score meets no
    * threshold and lands in the lowest bucket). ONE exact-percentile
    * aggregation computes every threshold, broadcast into a map-side
    * CASE — same plan shape and scale note as the cutoff, one extra
    * column out.
    */
  def bucketByQuantilesExact(df: DataFrame, valueExpr: String, qs: Seq[Double],
                             labels: Seq[String]): DataFrame = {
    require(labels.size == qs.size + 1,
      s"need ${qs.size + 1} labels for ${qs.size} thresholds, got ${labels.size}")
    require(qs == qs.sorted && qs.forall(q => q > 0.0 && q < 1.0),
      s"quantile fractions must be sorted and in (0,1), got $qs")
    val thr = df.agg(expr(s"percentile($valueExpr, array(${qs.mkString(",")}))").as("__thrs"))
    val v = expr(valueExpr).cast("double")
    // outermost WHEN checks the highest threshold: bucket = last label
    // whose threshold the value meets
    val assign = labels.zipWithIndex.tail.foldLeft(lit(labels.head)) {
      case (acc, (lab, i)) =>
        when(v >= col("__thrs").getItem(i - 1).cast("double"), lit(lab)).otherwise(acc)
    }
    df.crossJoin(broadcast(thr)).withColumn("bucket", assign).drop("__thrs")
  }

  /** Long-format profile: (column, count, null_count, min, max,
    * approx_distinct) — one row per column. A single wide `agg` computes
    * every column's aggregates over one scan; the one result row is then
    * exploded to one row per column for reporting and oracle checks.
    */
  def profileLong(df: DataFrame, columns: Seq[String]): DataFrame =
    explodeProfile(df.select(profileAggs(df, columns): _*), columns)

  /** The profile's wide row: `__total`, then per column `__nulls`,
    * `__min`, `__max`, `__distinct` (for an `agg` or an `observe`). */
  def profileAggs(df: DataFrame, columns: Seq[String]): Seq[Column] =
    count(lit(1)).as("__total") +: columns.flatMap { name =>
      val c = tableColumn(name)
      // min/max/distinct need an ordering (maps have none): such a
      // column keeps its count and nulls, the rest stays null
      val orderable = RowOrdering.isOrderable(df.schema(name).dataType)
      def ifOrderable(agg: => Column, nullType: String) =
        if (orderable) agg else lit(null).cast(nullType)
      Seq(
        sum(c.isNull.cast("long")).as(s"${name}__nulls"),
        ifOrderable(min(c).cast("string"), "string").as(s"${name}__min"),
        ifOrderable(max(c).cast("string"), "string").as(s"${name}__max"),
        ifOrderable(approx_count_distinct(c), "long").as(s"${name}__distinct"))
    }

  /** One row per column from the one wide row of [[profileAggs]]. */
  def explodeProfile(wide: DataFrame, columns: Seq[String]): DataFrame = {
    val structs = columns.map { name =>
      struct(
        lit(name).as("column"),
        col("__total").as("cnt"),
        tableColumn(s"${name}__nulls").as("null_count"),
        tableColumn(s"${name}__min").as("min_value"),
        tableColumn(s"${name}__max").as("max_value"),
        tableColumn(s"${name}__distinct").as("approx_distinct"))
    }
    wide.select(explode(array(structs: _*)).as("s")).select(col("s.*"))
  }
}
