package graft.gates

import org.apache.spark.sql.functions._
import graft.pipeline.{AsOf, Conversations}
import graft.sources.TranscriptDerive
import Inputs._

/** Conversation and event-stream gates: per-conversation windows and
  * aggregates over the derived transcripts, sessionization, as-of join,
  * funnel and cohort retention over the events table.
  */
object ConversationGates {

  val all: Seq[Gate] = Seq(
    // per-row fidelity digest (the north rule's "per-turn text equality
    // under stable ordering" as data): md5 over each conversation's
    // texts concatenated in the PROVEN deterministic turn order (the
    // same conversation-partitioned window conv_structure gates) — two
    // tables agree on a conv iff every turn text agrees in order
    Gate("conv_digest", (s, dir) =>
      // extracted to the operator library (round 6) so WindowScalingBench
      // measures EXACTLY the gated plan; one conv-keyed shuffle, window
      // partitioning reused by the aggregation (PlanSpec-pinned)
      graft.pipeline.Conversations.convDigest(TranscriptDerive.fromLineitem(s, dir)),
      // chr(1) == the Scala literal's  separator; string_agg's
      // ORDER BY replays the proven window order
      s"""WITH $tCte
         |SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
         |       md5(string_agg(COALESCE(text, '<null>'), chr(1)
         |             ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST,
         |                      role ASC NULLS FIRST, text ASC NULLS FIRST)) AS digest
         |FROM transcripts GROUP BY conv_id""".stripMargin),

    // per-conversation tool usage: call counts, distinct tools, and the
    // tool-call rate (one map-combining agg; the north rule's tool axis)
    Gate("conv_tool_stats", (s, dir) =>
      TranscriptDerive.fromLineitem(s, dir)
        .groupBy(col("conv_id"))
        .agg(count(col("tool")).as("n_tool_turns"),
          countDistinct(col("tool")).as("n_distinct_tools"),
          round(count(col("tool")).cast("double") / count(lit(1)), 6).as("tool_rate"))
        .filter(col("n_tool_turns") > 0),
      // COUNT(col) counts non-null tool turns in both engines
      s"""WITH $tCte
         |SELECT conv_id, CAST(COUNT(tool) AS BIGINT) AS n_tool_turns,
         |       CAST(COUNT(DISTINCT tool) AS BIGINT) AS n_distinct_tools,
         |       ROUND(CAST(COUNT(tool) AS DOUBLE) / COUNT(*), 6) AS tool_rate
         |FROM transcripts GROUP BY conv_id HAVING COUNT(tool) > 0""".stripMargin),

    // dialog-structure fingerprint: corpus P(next role | role) under the
    // deterministic turn order (one conv-partitioned window shuffle)
    Gate("role_transitions", (s, dir) =>
      Conversations.roleTransitions(TranscriptDerive.fromLineitem(s, dir)),
      // same total order as the operator (ASC NULLS FIRST is explicit —
      // DuckDB defaults to NULLS LAST on ASC, Spark to NULLS FIRST)
      s"""WITH $tCte,
         |o AS (SELECT conv_id, COALESCE(role, '<null>') AS r,
         |        LEAD(COALESCE(role, '<null>')) OVER
         |          (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
         |           ts ASC NULLS FIRST, role ASC NULLS FIRST, text ASC NULLS FIRST) AS nr
         |      FROM transcripts),
         |c AS (SELECT r AS role, nr AS next_role, CAST(COUNT(*) AS BIGINT) AS n
         |      FROM o WHERE nr IS NOT NULL GROUP BY r, nr),
         |t AS (SELECT role, CAST(SUM(n) AS BIGINT) AS tt FROM c GROUP BY role)
         |SELECT c.role, c.next_role, c.n, ROUND(CAST(c.n AS DOUBLE) / tt, 6) AS p
         |FROM c JOIN t USING (role)""".stripMargin),

    // conversation structure: 30-day-gap sessionization + role
    // alternation quality. Conversation-partitioned windows; the
    // per-conv aggregation reuses the window's hash partitioning
    Gate("conv_structure", (s, dir) =>
      Conversations.structureStats(
        TranscriptDerive.fromLineitem(s, dir), maxGapSeconds = 30L * 24 * 3600),
      s"""WITH $tCte,
         |-- FLOOR + CAST pins DuckDB to whole seconds: epoch() returns
         |-- fractional seconds, Spark's unix_timestamp truncates — a
         |-- sub-second ts near a gap boundary would otherwise diverge
         |o AS (SELECT conv_id, role, CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec,
         |        ROW_NUMBER() OVER w AS rn,
         |        LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w AS prev_ts,
         |        LAG(role) OVER w AS prev_role
         |      FROM transcripts
         |      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx ASC NULLS FIRST,
         |        ts ASC NULLS FIRST, role ASC NULLS FIRST, text ASC NULLS FIRST)),
         |m AS (SELECT conv_id,
         |        CASE WHEN prev_ts IS NULL OR tsec - prev_ts <= 2592000 THEN 0 ELSE 1 END AS ns,
         |        CASE WHEN rn > 1 AND role IS NOT DISTINCT FROM prev_role THEN 1 ELSE 0 END AS rep
         |      FROM o)
         |SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
         |       CAST(SUM(ns) + 1 AS BIGINT) AS n_sessions,
         |       ROUND(CAST(SUM(rep) AS DOUBLE) / GREATEST(COUNT(*) - 1, 1), 6) AS role_repeat_ratio
         |FROM m GROUP BY conv_id""".stripMargin),

    // the same sessionization operator over the EVENTS table (second
    // shape: per-user streams, sub-second timestamps — the FLOOR(epoch)
    // oracle pin is load-bearing here), 30-minute session gap
    Gate("events_structure", (s, dir) =>
      Conversations.structureStats(
        s.read.parquet(s"$dir/events.parquet").select(
          col("user_id").cast("string").as("conv_id"),
          col("event_id").cast("int").as("turn_idx"),
          col("event_type").as("role"),
          col("props").as("text"),
          col("ts")),
        maxGapSeconds = 30L * 60)
        .select(col("conv_id").cast("long").as("user_id"), col("n_turns"),
          col("n_sessions"), col("role_repeat_ratio")),
      """WITH o AS (SELECT user_id, event_type AS role, props,
        |        CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsec,
        |        ROW_NUMBER() OVER w AS rn,
        |        LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w AS prev_ts,
        |        LAG(event_type) OVER w AS prev_role
        |      FROM events
        |      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(event_id AS INT) ASC NULLS FIRST,
        |        ts ASC NULLS FIRST, event_type ASC NULLS FIRST, props ASC NULLS FIRST)),
        |m AS (SELECT user_id,
        |        CASE WHEN prev_ts IS NULL OR tsec - prev_ts <= 1800 THEN 0 ELSE 1 END AS ns,
        |        CASE WHEN rn > 1 AND role IS NOT DISTINCT FROM prev_role THEN 1 ELSE 0 END AS rep
        |      FROM o)
        |SELECT CAST(user_id AS BIGINT) AS user_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
        |       CAST(SUM(ns) + 1 AS BIGINT) AS n_sessions,
        |       ROUND(CAST(SUM(rep) AS DOUBLE) / GREATEST(COUNT(*) - 1, 1), 6) AS role_repeat_ratio
        |FROM m GROUP BY user_id""".stripMargin),

    // event-time as-of join: each purchase attached to the user's most
    // recent at-or-before view (ties on ts -> greatest event_id);
    // purchases with no prior view keep null payloads. The oracle is
    // DuckDB's NATIVE ASOF LEFT JOIN — an independent algorithm, not a
    // window replay
    Gate("asof_join", (s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      AsOf.asofJoin(
        left = ev.filter(col("event_type") === "purchase"),
        right = ev.filter(col("event_type") === "view"),
        keyCol = "user_id", tsCol = "ts",
        payloadCols = Seq("event_id", "ts", "value"), seqCol = "event_id")
        .select(col("event_id"), col("user_id"),
          col("asof_event_id"), col("asof_value"),
          // events ts is TIMESTAMP_NTZ (parquet int64); unix_micros wants
          // TIMESTAMP. The NTZ->LTZ cast shifts both operands by the same
          // session-tz offset, so the difference is exact (and every entry
          // point pins spark.sql.session.timeZone=UTC anyway)
          (unix_micros(col("ts").cast("timestamp")) -
            unix_micros(col("asof_ts").cast("timestamp"))).as("lag_us"))
    },
      // ties on (user_id, ts) are pre-resolved to the greatest event_id so
      // DuckDB's ASOF JOIN (which picks an arbitrary row among exact-ts
      // ties) matches the operator's deterministic seq tiebreak
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, ts, event_id, value FROM (
        |    SELECT user_id, ts, event_id, value,
        |           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'view') WHERE rn = 1)
        |SELECT p.event_id, p.user_id, v.event_id AS asof_event_id,
        |       v.value AS asof_value,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin),

    // ordered-funnel conversion over the events stream: users who
    // viewed, then clicked at-or-after their first view, then purchased
    // at-or-after that click (integer-exact — no float in the gate)
    Gate("funnel_conversion", (s, dir) =>
      Conversations.funnelCounts(
        s.read.parquet(s"$dir/events.parquet"), Seq("view", "click", "purchase")),
      // stagewise min-ts replay; >= keeps simultaneous next-stage events,
      // exact on microsecond timestamps
      """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts >= v.t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.t2 GROUP BY e.user_id)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_stage1,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_stage2,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_stage3""".stripMargin),

    // monitoring time series: daily (period, event_type) activity —
    // event and distinct-user counts plus value totals, the rate table
    // a drift alarm reads (integer day buckets, one agg)
    Gate("event_rates", (s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day"),
          col("event_type"), col("user_id"), col("value"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 6).as("sum_value")),
      """SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       ROUND(SUM(value), 6) AS sum_value
        |FROM events GROUP BY day, event_type""".stripMargin),

    // weekly cohort retention over the events stream: users bucketed by
    // first-event week, counted in each later active week (integer
    // microsecond division — no float anywhere in the gate)
    Gate("retention_cohorts", (s, dir) =>
      Conversations.retentionCohorts(
        s.read.parquet(s"$dir/events.parquet"), periodSeconds = 604800L, maxPeriods = 12),
      // integer floor-division replay (// in DuckDB == div in Spark on
      // positive epochs); activity is distinct (user, period) so each
      // user is at most one row per (cohort, offset) and COUNT(*) is the
      // distinct-user count
      """WITH per AS (SELECT user_id, epoch_us(ts) // 604800000000 AS period FROM events),
        |f AS (SELECT user_id, MIN(period) AS cohort FROM per GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, period FROM per),
        |j AS (SELECT f.cohort, a.period - f.cohort AS period_offset
        |      FROM a JOIN f USING (user_id))
        |SELECT cohort, period_offset, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM j WHERE period_offset >= 0 AND period_offset <= 12
        |GROUP BY cohort, period_offset""".stripMargin)
  )
}
