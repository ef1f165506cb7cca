package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift checks (north_rule): KL divergence, PSI and
  * Jensen-Shannon divergence between a current and a reference
  * population, over categorical buckets (roles, tools) or banded numeric
  * ones (text lengths).
  *
  * [[histogram]] counts both sides in ONE scan (a single conditional
  * aggregation, partial-combined before its shuffle, so cardinality —
  * not row count — bounds the shuffled bytes) and packs the tiny result
  * into ONE row. [[kl]], [[psi]] and [[jsd]] are array-aggregate
  * expressions over that row: no second scan branch, no join, no
  * collect. They fold the buckets in bucket order, the float summation
  * order the DuckDB oracle replays in the `drift_*` gates.
  */
object Drift {

  /** Epsilon smoothing for empty buckets (standard PSI practice: both
    * KL and PSI are undefined on a zero probability).
    */
  val Eps: Double = 1e-9

  /** Categorical bucket: the value as a string, NULL as "<null>". */
  def categoricalBucket(c: Column): Column = coalesce(c.cast("string"), lit("<null>"))

  /** Banded length bucket: bucket i covers lengths [i*width,
    * (i+1)*width), capped at `buckets - 1`; NULL text has length 0.
    */
  def textLengthBucket(c: Column, width: Int = 16, buckets: Int = 64): Column =
    least(floor(length(coalesce(c, lit(""))) / width), lit(buckets - 1L)).cast("long")

  /** Both sides' histograms over `bucket` from ONE scan, as one row:
    * `h`, the (bucket, pc, qc) structs sorted by bucket, and the side
    * totals `pt` and `qt` (NULL on an empty input, where `h` is empty
    * and every divergence 0). A row counts on the current side (p) where
    * `current` is true, on the reference side (q) where it is false,
    * and on neither where it is NULL. [[kl]], [[psi]] and [[jsd]] read
    * these three columns.
    */
  def histogram(df: DataFrame, bucket: Column, current: Column): DataFrame =
    df.groupBy(bucket.as("bucket"))
      .agg(
        sum(when(current, 1L).otherwise(0L)).as("pc"),
        sum(when(!current, 1L).otherwise(0L)).as("qc"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("pc"), col("qc")))).as("h"),
        sum(col("pc")).as("pt"), sum(col("qc")).as("qt"))

  private def p(x: Column): Column = greatest(x.getField("pc").cast("double") / col("pt"), lit(Eps))
  private def q(x: Column): Column = greatest(x.getField("qc").cast("double") / col("qt"), lit(Eps))

  /** KL(p || q) = sum p_i * ln(p_i / q_i) over the bucket union, in nats. */
  def kl: Column =
    aggregate(col("h"), lit(0.0d), (a, x) => a + p(x) * log(p(x) / q(x)))

  /** PSI = sum (p_i - q_i) * ln(p_i / q_i) over the bucket union. */
  def psi: Column =
    aggregate(col("h"), lit(0.0d), (a, x) => a + (p(x) - q(x)) * log(p(x) / q(x)))

  /** Jensen-Shannon divergence in bits: symmetric and bounded [0, 1],
    * the report-friendly companion to [[kl]]. Accumulated in nats with
    * ONE divide by ln 2 at the end: both engines' libms round ln(2) to
    * the same double, while a native log2 kernel (DuckDB std::log2 vs
    * Spark's ln/ln2) could diverge past 1 ulp.
    */
  def jsd: Column = {
    def term(x: Column) = {
      val m = (p(x) + q(x)) / lit(2.0)
      lit(0.5) * p(x) * log(p(x) / m) + lit(0.5) * q(x) * log(q(x) / m)
    }
    aggregate(col("h"), lit(0.0d), (a, x) => a + term(x)) / lit(math.log(2.0))
  }
}
