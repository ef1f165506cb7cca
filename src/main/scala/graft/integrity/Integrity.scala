package graft.integrity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Table-level integrity checks (north_rule): uniqueness of
  * `(conv_id, turn_idx)` and referential integrity of `conv_id` across
  * turn groups. These are the engine's only shuffling operators —
  * everything else is a single scan. Skew is left to the runtime:
  * map-side partial aggregation collapses hot keys before the exchange,
  * and AQE's skew-join splits skewed sort-merge partitions (SURVEY.md
  * §2b rows "uniqueness lifted to table level" / "referential
  * integrity").
  *
  * The parse-time analogue in the reference is the strict-set decoder
  * (`Decoders.scala:71-82`, duplicates rejected) and `$ref`-target
  * existence (`ReferenceResolver.scala:44`); here both lift to
  * dataset-level operators.
  *
  * NULL keys follow one rule, the embedded-constraint view ("Entity
  * Integrity, Referential Integrity, and Query Optimization with
  * Embedded Uniqueness Constraints", ICDE 2019): a constraint binds only
  * non-null key parts. A uniqueness constraint binds only keys with no
  * NULL part, so a key with a NULL part is never a duplicate
  * (`required` reports its rows when the schema demands the column).
  * A NULL `conv_id` is an absent reference, never an orphan; a NULL
  * `turn_idx` is no root, so its row is an orphan when its conversation
  * has no `turn_idx = 0` row. The CLI ([[integrityReport]]) and the
  * gates ([[referentialViolations]]) derive their orphan conversations
  * from the same `orphanConvsOf`.
  */
object Integrity {

  /** Duplicate composite keys, over the rows whose key has no NULL part.
    *
    * Plan shape: partial hash-aggregate (map-side combine) -> exchange on
    * the key -> final aggregate -> filter count>1. Map-side combine means
    * a hot key's counts collapse to one row per input partition BEFORE
    * the shuffle, so key skew degrades into at most
    * #input-partitions rows per key — the classic two-phase/salted
    * aggregation, supplied by Spark's HashAggregate automatically.
    * AQE (enabled in session conf) re-coalesces post-shuffle partitions.
    */
  def duplicateKeys(df: DataFrame, keyCols: Seq[String]): DataFrame =
    df.filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("dup_count"))
      .filter(col("dup_count") > 1)

  /** Orphan rows: left anti join of `df.keyCol` against the registry of
    * valid keys. A NULL `keyCol` never matches, so callers filter it out
    * first where it means an absent reference. Spark picks sort-merge or
    * broadcast by stats; for a small registry, broadcast eliminates the
    * shuffle entirely, and a skewed sort-merge side is split by AQE's
    * skew-join.
    */
  def orphans(df: DataFrame, registry: DataFrame, keyCol: String,
              broadcastRegistry: Boolean = false): DataFrame = {
    val reg = registry.select(col(keyCol)).distinct()
    df.join(if (broadcastRegistry) broadcast(reg) else reg, Seq(keyCol), "left_anti")
  }

  /** Both integrity checks from ONE full-data shuffle (the 100-TB
    * shape): a single partial-aggregated `groupBy(conv_id, turn_idx)`
    * reduces the table to its keyspace; duplicate keys, the turn-0
    * registry, and orphan conversations all derive from that reduced
    * set (whose shuffles are bounded by #distinct keys, not #rows).
    * Row-level orphan emission joins the (small) offending-conversation
    * set back via broadcast.
    *
    * Both report members derive from one persisted reduced keyspace;
    * call [[IntegrityReport.unpersist]] once both have been
    * materialized, or the cached blocks live for the session.
    */
  final case class IntegrityReport(duplicateKeys: DataFrame, orphanConvs: DataFrame,
                                   private val cachedKeyCounts: DataFrame) {
    def unpersist(): Unit = { cachedKeyCounts.unpersist(); () }
  }

  def integrityReport(df: DataFrame): IntegrityReport = {
    // persisted: both report members derive from this reduced keyspace,
    // and separate downstream ACTIONS would otherwise re-plan — and
    // re-run — the full-table scan+shuffle once each (Spark does not
    // reuse shuffle stages across separately submitted jobs)
    val keyCounts = keyspace(df).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // orphanConvsOf still sees NULL turn_idx keys (the NULL rule above)
    val dups = keyCounts.filter(col("conv_id").isNotNull && col("turn_idx").isNotNull &&
      col("dup_count") > 1)
    IntegrityReport(dups, orphanConvsOf(keyCounts), keyCounts)
  }

  /** The table reduced to its `(conv_id, turn_idx)` keyspace, with each
    * key's row count: one partial-aggregated shuffle.
    */
  private def keyspace(df: DataFrame): DataFrame =
    df.groupBy(col("conv_id"), col("turn_idx")).agg(count(lit(1)).as("dup_count"))

  /** Orphan conversations of a [[keyspace]]: the non-null `conv_id`s
    * with no `turn_idx = 0` key (the NULL rule in the object doc).
    */
  private def orphanConvsOf(keyCounts: DataFrame): DataFrame =
    keyCounts.filter(col("conv_id").isNotNull)
      .groupBy("conv_id")
      .agg(max(when(col("turn_idx") === 0, 1).otherwise(0)).as("has_root"))
      .filter(col("has_root") === 0)
      .select("conv_id")

  /** Row-level orphan emission from a precomputed (small) orphan set. */
  def orphanRows(df: DataFrame, orphanConvs: DataFrame): DataFrame =
    df.join(broadcast(orphanConvs), Seq("conv_id"), "left_semi")

  /** Turn-index contiguity audit: conversations whose turn indices are
    * NOT exactly 0..n-1 — gaps, duplicates, a missing root, or null
    * indices (all-null convs flag too: `n_distinct = 0 != n` makes the
    * pass conjunction plainly FALSE, so three-valued null comparisons
    * on min/max never rescue it — same logic as the SQL replay's
    * HAVING). One map-side-combining aggregation per conversation;
    * output is violations only.
    */
  def turnContiguity(df: DataFrame, convCol: String = "conv_id",
                     idxCol: String = "turn_idx"): DataFrame =
    df.groupBy(col(convCol))
      .agg(count(lit(1)).as("n_turns"),
        min(col(idxCol)).cast("long").as("min_idx"),
        max(col(idxCol)).cast("long").as("max_idx"),
        countDistinct(col(idxCol)).as("n_distinct"))
      .filter(!(col("min_idx") === 0 && col("max_idx") === col("n_turns") - 1 &&
        col("n_distinct") === col("n_turns")))

  /** Functional-dependency profile: values of `detCol` that map to more
    * than one `depCol` value — the classic data-profiling check for a
    * dependency the schema claims but the data may not keep (source
    * determines language, user determines region). One aggregation,
    * count-distinct's two-phase rewrite handles hot determinant keys.
    */
  def functionalDependencyViolations(df: DataFrame, detCol: String,
                                     depCol: String): DataFrame =
    df.groupBy(col(detCol))
      .agg(countDistinct(col(depCol)).as("n_dep"), count(lit(1)).as("n_rows"))
      .filter(col("n_dep") > 1)

  /** Referential violations for transcripts, as violation rows: the
    * rows [[orphanRows]] emits for the conversations [[integrityReport]]
    * calls orphans (FIXTURES.md §2 table-level rule).
    */
  def referentialViolations(transcripts: DataFrame): DataFrame =
    orphanRows(transcripts, orphanConvsOf(keyspace(transcripts)))
      .select(
        col("conv_id"), col("turn_idx"),
        graft.exprs.ConstraintCompiler.pointerCol(Seq("conv_id", "turn_idx"), "conv_id").as("pointer"),
        lit("ref").as("constraint"),
        col("conv_id").as("actual"))
}
