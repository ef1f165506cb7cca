package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Conversation-structure operators over the transcripts table
  * (conv_id, turn_idx, role, text, tool, ts): session counts by
  * event-time gap and role-alternation quality.
  *
  * Scale shape: every window here is PARTITIONED BY CONVERSATION — the
  * per-key sort and lag state are bounded by a single conversation's
  * turns, and the downstream per-conversation aggregation reuses the
  * same hash partitioning (one shuffle total, no single-partition
  * window anywhere).
  *
  * Determinism: the fixture plants duplicate (conv, turn) keys, so the
  * window order must be a TOTAL order or lag() chains differ between
  * runs/engines. The order is (turn_idx, ts, role, text), all
  * ASC NULLS FIRST — replayable in any engine with the same null
  * placement; ASCII payloads make the string collation engine-neutral.
  */
object Conversations {

  private def turnOrder: Seq[Column] = Seq(
    col("turn_idx").asc_nulls_first, col("ts").asc_nulls_first,
    col("role").asc_nulls_first, col("text").asc_nulls_first)

  /** Per-conversation structure profile: turn count, session count at
    * the given gap, and the role-repetition ratio (adjacent same-role
    * turn pairs / adjacent pairs; 0 for single-turn conversations) —
    * the "is this a real dialogue" quality signal.
    */
  def structureStats(df: DataFrame, maxGapSeconds: Long,
                     convCol: String = "conv_id"): DataFrame = {
    val w = Window.partitionBy(convCol).orderBy(turnOrder: _*)
    val prevTs = lag(unix_timestamp(col("ts")), 1).over(w)
    val newSession =
      when(prevTs.isNull || unix_timestamp(col("ts")) - prevTs <= maxGapSeconds, 0L)
        .otherwise(1L)
    // pair-existence via row_number (not a lagged payload column, which
    // could itself be null), so a null role in the FIRST row is
    // distinguishable from "no previous row"
    val hasPrev = row_number().over(w) > 1
    val sameRole = when(hasPrev &&
      (col("role") <=> lag(col("role"), 1).over(w)), 1L).otherwise(0L)
    df.select(col(convCol), newSession.as("ns"), sameRole.as("rep"))
      .groupBy(col(convCol))
      .agg(
        count(lit(1)).as("n_turns"),
        (sum(col("ns")) + 1).as("n_sessions"),
        round(sum(col("rep")).cast("double") /
          greatest(count(lit(1)) - 1, lit(1L)), 6).as("role_repeat_ratio"))
  }

  /** Role transition matrix: corpus-wide `P(next role | role)` under
    * the deterministic [[turnOrder]] within each conversation — the
    * structural fingerprint of a dialog corpus (user->assistant should
    * dominate; assistant->assistant spikes flag threading bugs). Null
    * roles become the "<null>" state BEFORE the lead, so a null next
    * role stays distinguishable from "conversation ended".
    *
    * Scale shape: ONE conversation-partitioned window shuffle (the
    * same exchange [[structureStats]] uses), then a (role, next_role)
    * count aggregation — |roles|^2 rows — with per-left totals
    * broadcast back for the probabilities. Exact long counts; the
    * division is correctly-rounded and deterministic.
    */
  def roleTransitions(df: DataFrame, convCol: String = "conv_id"): DataFrame = {
    val w = Window.partitionBy(convCol).orderBy(turnOrder: _*)
    val pairs = df
      .select(col(convCol), coalesce(col("role"), lit("<null>")).as("r"),
        lead(coalesce(col("role"), lit("<null>")), 1).over(w).as("nr"))
      .filter(col("nr").isNotNull) // the last turn has no successor
    val counts = pairs.groupBy(col("r").as("role"), col("nr").as("next_role"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy("role").agg(sum(col("n")).as("__t"))
    counts.join(broadcast(totals), "role")
      .select(col("role"), col("next_role"), col("n"),
        round(col("n").cast("double") / col("__t"), 6).as("p"))
  }

  /** Ordered-funnel conversion counts: how many users reached stage i
    * having passed stages 1..i-1 IN ORDER — a user is at stage i iff
    * they have a stage-i event at-or-after their earliest qualifying
    * stage-(i-1) time (ties count: a simultaneous next-stage event
    * qualifies, exact on microsecond timestamps). The product-analytics
    * staple (view -> click -> purchase), one row of stage counts out.
    *
    * Scale shape: stage 1 is one filtered count aggregation to a
    * (user, t) table; each later stage is a filtered join against the
    * previous stage's (user, t) — every shuffle keys on the user
    * column, so the per-stage exchanges reuse one partitioning; stage
    * tables only ever carry (user, min-ts). The final counts are
    * one-row aggregates cross-joined broadcast. Nothing is ever
    * per-event wide, no window over users.
    */
  def funnelCounts(df: DataFrame, stages: Seq[String],
                   typeCol: String = "event_type", userCol: String = "user_id",
                   tsCol: String = "ts"): DataFrame = {
    require(stages.size >= 2, s"a funnel needs at least 2 stages, got ${stages.size}")
    val first = df.filter(col(typeCol) === stages.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
    val stageTables = stages.tail.foldLeft(Vector(first)) { (acc, st) =>
      acc :+ df.filter(col(typeCol) === st)
        .join(acc.last.select(col(userCol), col("__t").as("__prev")), Seq(userCol))
        .filter(col(tsCol) >= col("__prev"))
        .groupBy(col(userCol)).agg(min(col(tsCol)).as("__t"))
    }
    stageTables.zipWithIndex
      .map { case (t, i) => t.agg(count(lit(1)).as(s"n_stage${i + 1}")) }
      .reduce(_.crossJoin(_))
  }

  /** Per-conversation fidelity digest (the north rule's "per-turn text
    * equality under stable ordering" as data): md5 over each
    * conversation's texts concatenated in the PROVEN deterministic turn
    * order — two tables agree on a conversation iff every turn text
    * agrees in order. Rows tied on the full order key carry identical
    * text, so the digest is tie-invariant; `rn` makes the collected
    * array's sort key unique and null-free.
    *
    * Scale shape: ONE conversation-keyed exchange — the per-conv
    * aggregation reuses the window's hash partitioning (PlanSpec-
    * pinned), the window buffer is bounded by conversation length, and
    * the digest is a per-group fold. This is the engine's canonical
    * window+agg-shaped plan; WindowScalingBench measures its N-vs-4N
    * executor efficiency (BENCH.md).
    */
  def convDigest(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id").orderBy(turnOrder: _*)
    df.select(col("conv_id"), row_number().over(w).as("__rn"),
        coalesce(col("text"), lit("<null>")).as("__text"))
      .groupBy(col("conv_id"))
      .agg(count(lit(1)).as("n_turns"),
        md5(concat_ws("\u0001",
          sort_array(collect_list(struct(col("__rn"), col("__text")))).getField("__text")))
          .as("digest"))
  }

  /** Cohort retention matrix: users bucketed by the period of their
    * FIRST event (the cohort), counted again in every later period
    * they were active — `(cohort, offset, n_users)` rows, the
    * engagement-analytics staple. Periods are integer microsecond
    * division (`div`), so bucket membership is exact — no float
    * boundary. `div` (like DuckDB's `//` on these inputs) truncates
    * toward zero, which equals floor division for the post-1970
    * timestamps this targets; pre-1970 epochs would share a
    * double-width period 0 (documented, not supported). A
    * TIMESTAMP_NTZ input is interpreted in the session time zone by
    * the cast, which would shift period boundaries — the operator
    * refuses that silent dependency unless the session is pinned UTC.
    *
    * Scale shape: ONE shuffle on the user column — `collect_set` of
    * active periods per user (map-side partial; bounded by the number
    * of periods in the data horizon, not by events), cohort =
    * `array_min` of that set (the bucket function is monotone, so no
    * ordered reduction), offsets explode from the same set; the final
    * count aggregation is over the report-sized (cohort, offset) key.
    * No join anywhere. Null users and null timestamps are excluded,
    * never counted.
    */
  def retentionCohorts(df: DataFrame, periodSeconds: Long, maxPeriods: Int,
                       userCol: String = "user_id", tsCol: String = "ts"): DataFrame = {
    require(periodSeconds > 0, s"period must be positive, got $periodSeconds")
    require(maxPeriods >= 0, s"maxPeriods must be >= 0, got $maxPeriods")
    // an NTZ ts cast to TIMESTAMP takes the session-tz offset into the
    // epoch; unlike the as-of join's lag DIFFERENCE, period bucketing
    // does NOT cancel that shift — fail loud rather than move cohort
    // boundaries with the session config
    if (df.schema.fields.exists(f => f.name == tsCol &&
        f.dataType == org.apache.spark.sql.types.TimestampNTZType)) {
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC" || tz == "Etc/UTC" || tz == "GMT",
        s"retentionCohorts on a TIMESTAMP_NTZ '$tsCol' needs spark.sql.session.timeZone=UTC " +
          s"(got $tz): the NTZ->LTZ cast would shift period boundaries by the zone offset")
    }
    val periodUs = java.lang.Math.multiplyExact(periodSeconds, 1000000L)
    val per = expr(s"unix_micros(CAST($tsCol AS TIMESTAMP)) div $periodUs")
    // "period_offset", not "offset": OFFSET is reserved in ANSI/DuckDB
    // and the gate compare keys on identical column names
    df.filter(col(userCol).isNotNull)
      .groupBy(col(userCol)).agg(collect_set(per).as("__ps"))
      .filter(size(col("__ps")) > 0) // all-null-ts users have no periods
      .select(array_min(col("__ps")).as("cohort"), explode(col("__ps")).as("__p"))
      .select(col("cohort"), (col("__p") - col("cohort")).as("period_offset"))
      .filter(col("period_offset") >= 0 && col("period_offset") <= maxPeriods)
      .groupBy("cohort", "period_offset")
      .agg(count(lit(1)).as("n_users"))
  }
}
