package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.compile.TableSchemaCompiler
import graft.exprs.Validator
import graft.integrity.Integrity
import graft.pipeline.{Ann, AsOf, Conversations, Dedup, Multimodal, Packing, Sampling, TextOps}
import graft.sources.{DirtyDerive, TranscriptDerive}
import graft.stats.{Drift, Stats}

/** Driver contract: one entry per implemented operator (SURVEY.md §2),
  * each with an equivalent DuckDB oracle (the transcripts table is
  * derived from `lineitem` by identical rules on both sides — see
  * [[graft.sources.TranscriptDerive]]).
  */
object SparkEntry {

  /** Flagship schema for query-time validation (FIXTURES.md §2). */
  val querySchema: String = graft.compile.Fixtures.flagshipSchema

  private def schema = TableSchemaCompiler.compileString(querySchema)
    .fold(e => throw new IllegalArgumentException(e), identity)

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  // balanced variants: per-operator opt-in (measured winners only, see
  // OPTIMIZATION_r07.md "scan balancing"); BalancedInput is a no-op on
  // sane file layouts, so these are layout repairs, not local tuning
  private def docsBalanced(s: SparkSession, dir: String): DataFrame =
    graft.sources.BalancedInput.parquet(s, s"$dir/documents.parquet")

  private def embeddingsBalanced(s: SparkSession, dir: String): DataFrame =
    graft.sources.BalancedInput.parquet(s, s"$dir/embeddings.parquet")

  private def embeddings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Dedup pool: documents + planted exact dups (+1,000,000) and
    * near-dups (+2,000,000, text suffixed). Same rules in [[poolCte]].
    */
  def dedupPool(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .unionByName(d.filter(col("doc_id") % 11 === 5)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" qq zz")).as("text")))
  }

  private val poolCte: String =
    """pool AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 3
      |  UNION ALL SELECT doc_id + 2000000, text || ' qq zz' FROM documents WHERE doc_id % 11 = 5
      |)""".stripMargin

  /** Exact all-pairs 3-shingle Jaccard over [[poolCte]] — the ground
    * truth the LSH pair queries compare against (shared CTE fragment).
    */
  private val shPairsCte: String =
    """sh0 AS (
      |  SELECT doc_id,
      |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
      |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM pool)),
      |-- inverted-index form of the exact all-pairs Jaccard: co-occurring
      |-- pairs only, |A inter B| = the co-occurrence group count, union by
      |-- inclusion-exclusion. IDENTICAL output to the naive a-join-b form
      |-- (every consumer filters j >= 0.5 > 0, and zero-shingle-overlap
      |-- pairs are the only rows the index form omits) but ~300x cheaper --
      |-- the naive form alone outgrew the driver's gate budget (r3 lesson)
      |shd AS (SELECT doc_id, list_distinct(sh) AS sh FROM sh0),
      |inv AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS g FROM shd),
      |co AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS na, b.n AS nb, COUNT(*) AS inter
      |       FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2, 3, 4),
      |pairs AS (SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS j FROM co)""".stripMargin

  /** Both conversation halves' histograms over `bucket` in ONE scan
    * ([[graft.stats.Drift.histogram]]): even order keys are the current
    * side, odd ones the reference.
    */
  private def halvesDrift(s: SparkSession, dir: String,
                          bucket: org.apache.spark.sql.Column): DataFrame = {
    val half = substring(col("conv_id"), 2, 30).cast("long") % 2
    Drift.histogram(TranscriptDerive.fromLineitem(s, dir), bucket,
      when(half === 0, true).when(half === 1, false))
  }

  /** Near-dup clusters of the pool's LSH pair graph, (doc_id, component). */
  private val nearDupComponents: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.connectedComponents(
      Dedup.minhashPairs(dedupPool(s, dir), k = 24, bands = 12, threshold = 0.5))
      .select(col("id").cast("long").as("doc_id"), col("comp").cast("long").as("component"))

  /** Connected components of the >= 0.5 Jaccard pair graph as a
    * recursive transitive closure (component = min reachable id) —
    * replays [[graft.pipeline.Dedup.connectedComponents]].
    */
  private val componentsCte: String =
    s"""$shPairsCte,
       |p AS (SELECT id_a, id_b FROM pairs WHERE j >= 0.5),
       |-- MATERIALIZED is load-bearing: without it DuckDB re-inlines the
       |-- whole all-pairs subtree into EVERY recursion step
       |edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p UNION SELECT id_b, id_a FROM p),
       |reach(u, v) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u WHERE e.v <> r.u),
       |comp AS (SELECT u AS node, LEAST(u, MIN(v)) AS component FROM reach GROUP BY u)""".stripMargin

  /** Embedding pool with planted exact copies (+1,000,000) and perturbed
    * near-copies (+2,000,000). The perturbation weights 17/16 and 15/16
    * are exactly representable dyadics and the multiply runs in double
    * then rounds to float, so BOTH engines produce bit-identical vectors
    * (cos of a perturbed pair lands at ~0.998, far above the 0.95 gate
    * tau; the densest base pair is <= 0.61). Same rules in [[embPoolCte]].
    */
  def embPool(s: SparkSession, dir: String): DataFrame = {
    val e = embeddings(s, dir).select("vec_id", "embedding")
    e.unionByName(e.filter(col("vec_id") % 7 === 3)
        .select((col("vec_id") + 1000000).as("vec_id"), col("embedding")))
      .unionByName(e.filter(col("vec_id") % 11 === 5)
        .select((col("vec_id") + 2000000).as("vec_id"),
          transform(col("embedding"), (x, i) =>
            when(i % 2 === 0, (x.cast("double") * lit(1.0625)).cast("float"))
              .otherwise((x.cast("double") * lit(0.9375)).cast("float"))).as("embedding")))
  }

  // DuckDB lambda indices are 1-based (Spark's are 0-based): i % 2 = 1
  // below is the SAME elements as i % 2 === 0 above
  private val embPoolCte: String =
    """epool AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL SELECT vec_id + 1000000, embedding FROM embeddings WHERE vec_id % 7 = 3
      |  UNION ALL SELECT vec_id + 2000000,
      |    list_transform(embedding, (x, i) -> CASE WHEN i % 2 = 1
      |      THEN CAST(CAST(x AS DOUBLE) * 1.0625 AS FLOAT)
      |      ELSE CAST(CAST(x AS DOUBLE) * 0.9375 AS FLOAT) END)
      |  FROM embeddings WHERE vec_id % 11 = 5
      |)""".stripMargin

  /** Documents + first-token-substituted variants (+3,000,000): the
    * simhash near-miss pool. The variant's hamming distance is a
    * deterministic property of the text and the (replayable) token
    * hash — mostly 0-4, with a long tail — and the oracle REPLAYS the
    * whole simhash computation, so no recall assumption is needed:
    * at maxHamming <= 3 with 4 bands the band join provably finds every
    * qualifying pair (pigeonhole, see [[graft.pipeline.Dedup.simhashPairs]]).
    */
  def simhashNearPool(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 5 === 1)
      .select((col("doc_id") + 3000000).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "zq").as("text")))
  }

  private val simhashPoolCte: String =
    """spool AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 3000000, regexp_replace(text, '^\S+', 'zq')
      |  FROM documents WHERE doc_id % 5 = 1
      |)""".stripMargin

  private val tCte: String = TranscriptDerive.duckdbCteTable

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Validator.validateTranscripts(
      TranscriptDerive.fromLineitem(spark, "/root/testdata/sf0.001"), schema).toDF()

  // ---- pointer SQL helper (must mirror ConstraintCompiler.pointerCol) ----
  private def ptrSql(column: String): String =
    s"'/' || replace(replace(conv_id,'~','~0'),'/','~1') || '/' || CAST(turn_idx AS VARCHAR) || '/$column'"

  // pointer over (l_orderkey, l_linenumber)-keyed tables
  private def kPtr(column: String): String =
    s"'/' || CAST(l_orderkey AS VARCHAR) || '/' || CAST(l_linenumber AS VARCHAR) || '/$column'"

  private def compileSchema(json: String) =
    TableSchemaCompiler.compileString(json)
      .fold(e => throw new IllegalArgumentException(e), identity)

  private def dirtyViolations(s: SparkSession, dir: String, schemaJson: String,
                              balance: Boolean = false): DataFrame =
    Validator.violations(DirtyDerive.fromLineitem(s, dir, balance), compileSchema(schemaJson),
      Seq("l_orderkey", "l_linenumber"))

  private val dirtyKeyProps =
    """"l_orderkey": {"type": "integer"}, "l_linenumber": {"type": "integer"}"""

  private val dCte: String = DirtyDerive.duckdbCte

  /** t-digest acceptance band per profiled column (absolute, generous:
    * the gate pins "sketch is sane", exactness is the exact_q column).
    */
  private val quantileProbs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------- constraint validation over derived transcripts ----------
    "v_violations" -> ((s, dir) =>
      Validator.validateTranscripts(TranscriptDerive.fromLineitem(s, dir), schema).toDF()),

    "uniq_duplicates" -> ((s, dir) =>
      Integrity.duplicateKeys(TranscriptDerive.fromLineitem(s, dir), Seq("conv_id", "turn_idx"))),

    "ref_orphans" -> ((s, dir) =>
      Integrity.referentialViolations(TranscriptDerive.fromLineitem(s, dir))),

    // per-row fidelity digest (the north rule's "per-turn text equality
    // under stable ordering" as data): md5 over each conversation's
    // texts concatenated in the PROVEN deterministic turn order (the
    // same conversation-partitioned window conv_structure gates) — two
    // tables agree on a conv iff every turn text agrees in order
    "conv_digest" -> ((s, dir) =>
      // extracted to the operator library (round 6) so WindowScalingBench
      // measures EXACTLY the gated plan; one conv-keyed shuffle, window
      // partitioning reused by the aggregation (PlanSpec-pinned)
      graft.pipeline.Conversations.convDigest(TranscriptDerive.fromLineitem(s, dir))),

    // capstone: the whole validation path in ONE summary row — fused
    // validator violations, duplicate keys, referential orphans, and
    // contiguity breaks (each count reuses the gated production query;
    // the lambdas re-enter the map at call time, after construction).
    // The violations leg uses the zero-emission TOTAL form
    // (Validator.violationTotal): a count never needs the emission
    // path's Generate fan-out or pointer/JSON string building — at
    // 10^12 rows that is the difference between a pure scan-aggregate
    // and paying the emission tax once per violating row only to
    // discard it. The total equals count(*) over emitted rows (each
    // emitted row is exactly one failing check), so the oracle is
    // unchanged.
    "validation_report" -> ((s, dir) => {
      def n(name: String, as: String) =
        queries(name)(s, dir).agg(count(lit(1)).as(as))
      Validator.violationTotal(TranscriptDerive.fromLineitem(s, dir), schema)
        .crossJoin(n("uniq_duplicates", "n_dup_keys"))
        .crossJoin(n("ref_orphans", "n_orphans"))
        .crossJoin(n("turn_contiguity", "n_noncontiguous"))
    }),

    // per-conversation tool usage: call counts, distinct tools, and the
    // tool-call rate (one map-combining agg; the north rule's tool axis)
    "conv_tool_stats" -> ((s, dir) =>
      TranscriptDerive.fromLineitem(s, dir)
        .groupBy(col("conv_id"))
        .agg(count(col("tool")).as("n_tool_turns"),
          countDistinct(col("tool")).as("n_distinct_tools"),
          round(count(col("tool")).cast("double") / count(lit(1)), 6).as("tool_rate"))
        .filter(col("n_tool_turns") > 0)),

    // dialog-structure fingerprint: corpus P(next role | role) under the
    // deterministic turn order (one conv-partitioned window shuffle)
    "role_transitions" -> ((s, dir) =>
      Conversations.roleTransitions(TranscriptDerive.fromLineitem(s, dir))),

    // turn-index contiguity: conversations whose indices are not exactly
    // 0..n-1 (gaps, duplicates, missing root) — natural violations from
    // the dirty fixture's planted duplicate keys
    "turn_contiguity" -> ((s, dir) =>
      Integrity.turnContiguity(TranscriptDerive.fromLineitem(s, dir))),

    // functional-dependency profile over the documents table: sources
    // mapping to more than one language
    "fd_source_lang" -> ((s, dir) =>
      Integrity.functionalDependencyViolations(docs(s, dir), "source", "lang")),

    "stats_profile" -> ((s, dir) => {
      val t = TranscriptDerive.fromLineitem(s, dir)
      val cols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
      val aggs = count(lit(1)).as("__total") +: cols.flatMap { n =>
        Seq(
          sum(col(n).isNull.cast("long")).as(s"${n}__nulls"),
          min(col(n)).cast("string").as(s"${n}__min"),
          max(col(n)).cast("string").as(s"${n}__max"),
          countDistinct(col(n)).as(s"${n}__distinct"))
      }
      val wide = t.agg(aggs.head, aggs.tail: _*)
      val structs = cols.map { n =>
        struct(lit(n).as("col_name"), col("__total").as("cnt"),
          col(s"${n}__nulls").as("null_count"),
          col(s"${n}__min").as("min_value"), col(s"${n}__max").as("max_value"),
          col(s"${n}__distinct").as("n_distinct"))
      }
      wide.select(explode(array(structs: _*)).as("s")).select(col("s.*"))
    }),

    // draft-4 constraint INFERENCE (Deequ-style suggestion): per column,
    // the tightest type/required/bounds/lengths/enum the observed data
    // satisfies. The emitted rule is exact (the oracle replays it with
    // exact aggregates); the HLL only prunes enum candidates with a 2x
    // margin. renderSchemaJson over these rows re-parses through
    // TableSchemaCompiler and validates the source table clean
    // (round-trip pinned by SchemaInferSpec).
    "schema_infer" -> ((s, dir) =>
      graft.stats.SchemaInfer.inferConstraints(
        TranscriptDerive.fromLineitem(s, dir, balance = true), enumMaxDistinct = 16)),

    // property-dependency suggestion (draft-4 dependencies keyword):
    // for every ordered column pair, does antecedent-non-null imply
    // consequent-non-null on the data — one wide conditional-sum agg
    "dep_suggest" -> ((s, dir) =>
      graft.stats.SchemaInfer.suggestDependencies(TranscriptDerive.fromLineitem(s, dir))),

    // key-candidate suggestion: which candidate column sets are true
    // primary keys (no null components, no duplicate values) — exact
    // verdicts, HLL-pruned so only could-be keys pay the exact probe.
    // conv_id fails on cardinality, (conv_id,turn_idx) on the planted
    // duplicates, (conv_id,turn_idx,role) on role nulls; adding text
    // separates every planted collision -> the one true key
    "key_candidates" -> ((s, dir) =>
      graft.stats.SchemaInfer.suggestKeys(TranscriptDerive.fromLineitem(s, dir), Seq(
        Seq("conv_id"),
        Seq("conv_id", "turn_idx"),
        Seq("conv_id", "turn_idx", "role"),
        Seq("conv_id", "turn_idx", "text")))),

    // JSONL source round-trip with corrupt-record quarantine: the
    // transcripts serialize to JSON lines (pinned micros timestamp
    // format), two deterministic corruption rules mangle a slice
    // (okey%89=3 -> structurally invalid; else okey%97=41 -> turn_idx
    // bound to a string), and JsonlTranscripts.parse reads everything
    // back — clean rows must round-trip value-exactly, invalid lines
    // must quarantine as all-null+corrupt, type-mangled lines keep the
    // fields parsed before the failure (conv_id) and null the rest
    "jsonl_roundtrip" -> ((s, dir) => {
      val t = TranscriptDerive.fromLineitem(s, dir)
        .withColumn("__okey", substring(col("conv_id"), 2, 30).cast("long"))
      val lines = t.select(
        when(col("__okey") % 89 === 3, lit("{not json"))
          .when(col("__okey") % 97 === 41,
            concat(lit("{\"conv_id\":\""), col("conv_id"), lit("\",\"turn_idx\":\"oops\"}")))
          .otherwise(graft.sources.JsonlTranscripts.jsonLine(t)).as("value"))
      graft.sources.JsonlTranscripts.parse(lines)
        .select(col("conv_id"), col("turn_idx"), col("role"), col("text"),
          col("tool"), unix_micros(col("ts")).as("ts_us"), // no gate emits raw ts (engine dtype quibbles)
          col("_corrupt").isNotNull.as("corrupt"))
    }),

    // schema-LEVEL drift: constraints inferred on conversation half 0
    // (the baseline snapshot) vs half 1 (the current table), diffed to
    // one report row per column — the contract-moved companion to the
    // histogram drift gates, over the same half split
    "schema_drift" -> ((s, dir) => {
      // balance=true: each half-profile is a compute-dense single-pass
      // chain (the schema_infer precedent) — A/B'd 6-rep in one window:
      // balanced min 2.08 s vs unbalanced 2.55 s (the two concurrent
      // futures leave enough idle cores for both balanced chains)
      val t = TranscriptDerive.fromLineitem(s, dir, balance = true)
        .withColumn("__half", substring(col("conv_id"), 2, 30).cast("long") % 2)
      graft.stats.SchemaInfer.constraintDrift(
        t.filter(col("__half") === 0).drop("__half"),
        t.filter(col("__half") === 1).drop("__half"), enumMaxDistinct = 16)
    }),

    "drift_role_klpsi" -> ((s, dir) =>
      halvesDrift(s, dir, Drift.categoricalBucket(col("role")))
        .select(round(Drift.kl, 6).as("kl"), round(Drift.psi, 6).as("psi"))),

    // symmetric bounded drift (Jensen-Shannon, bits) over the same
    // single-scan half-vs-half histogram
    "drift_role_jsd" -> ((s, dir) =>
      halvesDrift(s, dir, Drift.categoricalBucket(col("role")))
        .select(round(Drift.jsd, 6).as("jsd"))),

    // numeric-drift path (banded text-length histogram) — same
    // single-scan shape, bucket = least(floor(len/16), 63)
    "drift_textlen_klpsi" -> ((s, dir) =>
      halvesDrift(s, dir, Drift.textLengthBucket(col("text")))
        .select(round(Drift.kl, 6).as("kl"), round(Drift.psi, 6).as("psi"))),

    // conversation structure: 30-day-gap sessionization + role
    // alternation quality. Conversation-partitioned windows; the
    // per-conv aggregation reuses the window's hash partitioning
    "conv_structure" -> ((s, dir) =>
      Conversations.structureStats(
        TranscriptDerive.fromLineitem(s, dir), maxGapSeconds = 30L * 24 * 3600)),

    // the same sessionization operator over the EVENTS table (second
    // shape: per-user streams, sub-second timestamps — the FLOOR(epoch)
    // oracle pin is load-bearing here), 30-minute session gap
    "events_structure" -> ((s, dir) =>
      Conversations.structureStats(
        s.read.parquet(s"$dir/events.parquet").select(
          col("user_id").cast("string").as("conv_id"),
          col("event_id").cast("int").as("turn_idx"),
          col("event_type").as("role"),
          col("props").as("text"),
          col("ts")),
        maxGapSeconds = 30L * 60)
        .select(col("conv_id").cast("long").as("user_id"), col("n_turns"),
          col("n_sessions"), col("role_repeat_ratio"))),

    // event-time as-of join: each purchase attached to the user's most
    // recent at-or-before view (ties on ts -> greatest event_id);
    // purchases with no prior view keep null payloads. The oracle is
    // DuckDB's NATIVE ASOF LEFT JOIN — an independent algorithm, not a
    // window replay
    "asof_join" -> ((s, dir) => {
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
    }),

    // ordered-funnel conversion over the events stream: users who
    // viewed, then clicked at-or-after their first view, then purchased
    // at-or-after that click (integer-exact — no float in the gate)
    "funnel_conversion" -> ((s, dir) =>
      Conversations.funnelCounts(
        s.read.parquet(s"$dir/events.parquet"), Seq("view", "click", "purchase"))),

    // per-type value anomalies: rows >= 3 population sigmas from their
    // event type's mean (the row-naming companion to the drift stats)
    "value_outliers" -> ((s, dir) =>
      Stats.zscoreOutliers(
        s.read.parquet(s"$dir/events.parquet").select("event_id", "event_type", "value"),
        "value", "event_type", threshold = 3.0)
        .select(col("event_id"), col("event_type"), col("value"), col("zscore"))),

    // monitoring time series: daily (period, event_type) activity —
    // event and distinct-user counts plus value totals, the rate table
    // a drift alarm reads (integer day buckets, one agg)
    "event_rates" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 86400000000").as("day"),
          col("event_type"), col("user_id"), col("value"))
        .groupBy(col("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value")), 6).as("sum_value"))),

    // weekly cohort retention over the events stream: users bucketed by
    // first-event week, counted in each later active week (integer
    // microsecond division — no float anywhere in the gate)
    "retention_cohorts" -> ((s, dir) =>
      Conversations.retentionCohorts(
        s.read.parquet(s"$dir/events.parquet"), periodSeconds = 604800L, maxPeriods = 12)),

    // multi-edge referential integrity over the full TPC-H-ish star:
    // each FK edge is one anti-join (broadcast for the small parents),
    // counts unioned into one report — the shape of a whole-warehouse
    // integrity sweep
    "fk_integrity" -> ((s, dir) => {
      def t(n: String) = s.read.parquet(s"$dir/$n.parquet")
      // a NULL FK is an ABSENT reference (reported by `required` if the
      // schema demands one), not a referential violation — and the SQL
      // NOT IN form agrees only under that filter (NULL IN (...) is
      // UNKNOWN), so pin the semantics explicitly on both sides
      def edge(name: String, child: DataFrame, childKey: String,
               parent: DataFrame, parentKey: String, bcast: Boolean) =
        Integrity.orphans(
            child.filter(col(childKey).isNotNull).select(col(childKey).as(parentKey)),
            parent, parentKey, broadcastRegistry = bcast)
          .agg(count(lit(1)).as("orphans"))
          .select(lit(name).as("edge"), col("orphans"))
      // broadcast only the FIXED-cardinality dimensions (nation=25,
      // region=5). part/supplier/customer grow linearly with scale
      // factor — broadcasting them would OOM at large SF instead of
      // degrading to a shuffle anti-join, so those edges shuffle
      edge("lineitem->part", t("lineitem"), "l_partkey", t("part"), "p_partkey", bcast = false)
        .unionByName(edge("lineitem->supplier", t("lineitem"), "l_suppkey",
          t("supplier"), "s_suppkey", bcast = false))
        .unionByName(edge("orders->customer", t("orders"), "o_custkey",
          t("customer"), "c_custkey", bcast = false))
        .unionByName(edge("customer->nation", t("customer"), "c_nationkey",
          t("nation"), "n_nationkey", bcast = true))
        .unionByName(edge("nation->region", t("nation"), "n_regionkey",
          t("region"), "r_regionkey", bcast = true))
    }),

    // the validator over the events table with its JSON-string payload
    // parsed into columns: natural (not planted) violations — 'signup'
    // excluded from the enum, value capped at 50, k capped at 79
    "events_props_violations" -> ((s, dir) => {
      val e = graft.sources.BalancedInput.parquet(s, s"$dir/events.parquet").select(
        col("user_id"), col("event_id"), col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        col("value"))
      val schemaJson = """
        { "type": "object", "required": ["user_id", "event_id"],
          "properties": {
            "user_id":  { "type": "integer" },
            "event_id": { "type": "integer" },
            "event_type": { "type": "string", "enum": ["click", "view", "error", "purchase"] },
            "k":     { "type": "integer", "maximum": 79 },
            "value": { "type": "number", "maximum": 50 }
          } }"""
      Validator.violations(e, compileSchema(schemaJson), Seq("user_id", "event_id"))
    }),

    // operational rollup: violation counts by constraint and column
    // counting needs no emission: one conditional sum per check in a
    // single scan (round 4 — was emit-all-rows + groupBy, 3.5 s -> sub-s)
    "v_violation_counts" -> ((s, dir) =>
      Validator.violationCounts(TranscriptDerive.fromLineitem(s, dir), schema)),

    // multipleOf on a double column through the real validator (the
    // decimal-exact remainder path, SURVEY §7 hard part)
    "v_multipleof" -> ((s, dir) => {
      val li = graft.sources.BalancedInput.parquet(s, s"$dir/lineitem.parquet")
      val schemaJson = """
      {
        "type": "object",
        "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          "l_orderkey":   { "type": "integer" },
          "l_linenumber": { "type": "integer" },
          "l_discount":   { "type": "number", "multipleOf": 0.02 }
        }
      }"""
      val ts = TableSchemaCompiler.compileString(schemaJson)
        .fold(e => throw new IllegalArgumentException(e), identity)
      Validator.violations(li, ts, Seq("l_orderkey", "l_linenumber"))
    }),

    "orders_ref_integrity" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_count"))
    }),

    // ---------- training-data pipeline: documents ----------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(dedupPool(s, dir)).select(
        col("content_hash"), col("dup_count"), col("keep_id"))),

    "dedup_survivors" -> ((s, dir) =>
      Dedup.exactSurvivors(dedupPool(s, dir))),

    "text_tokens" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))),

    "text_quality" -> ((s, dir) => {
      val cols = col("doc_id") +: TextOps.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
      docs(s, dir).select(cols: _*)
    }),

    "lang_id" -> ((s, dir) => {
      val scoreCols = TextOps.langScores(col("text")).map { case (n, c) => c.cast("long").as(n) }
      docs(s, dir).select(
        (col("doc_id") +: scoreCols) :+
          TextOps.langPredict(col("text")).as("predicted") :+
          col("lang").as("label"): _*)
    }),

    "doc_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))),

    "multimodal_features" -> ((s, dir) =>
      Multimodal.extractFeatures(Multimodal.asMediaTable(docs(s, dir)))
        .toDF().select(col("doc_id"), col("mime"),
          col("n_bytes").cast("long").as("n_bytes"),
          col("head_byte").cast("long").as("head_byte"))),

    "multimodal_frames" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.asMediaTable(docs(s, dir)))
        .toDF().select(col("doc_id"), col("mime"), col("n_frames"), col("first_frame_md5"))),

    // REAL image decode round-trip: plant a deterministic tiny PNG per
    // doc_id (pixels are pure arithmetic in id/x/y), decode through the
    // JDK ImageIO reader, emit dims + exact pixel sum. PNG is lossless,
    // so DuckDB replays the expected values from the plant rule alone —
    // any decoder deviation (dims, channel order, color management)
    // breaks the hash
    "multimodal_decode" -> ((s, dir) =>
      Multimodal.decodeImages(Multimodal.plantPngTable(docs(s, dir).select(col("doc_id"))))
        .toDF().select(col("doc_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("pixel_sum"))),

    // real JDK WAV/PCM decode (round 6, the audio twin of
    // multimodal_decode): plant 16-bit PCM WAVs whose samples are pure
    // arithmetic in (id, frame, channel), decode them back through
    // javax.sound.sampled, and let DuckDB verify frame/channel counts
    // and exact amplitude sums from the plant rule alone
    "multimodal_audio" -> ((s, dir) =>
      Multimodal.decodeAudio(Multimodal.plantWavTable(docs(s, dir).select(col("doc_id"))))
        .toDF().select(col("doc_id"),
          col("n_frames"),
          col("channels").cast("long").as("channels"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("amplitude_sum"))),

    // BPE tokenizer training: 8 merges over the corpus word census
    // (one census job, then the driver-side incremental trainer). The
    // oracle replays the whole cascade (census, weighted pair counts,
    // deterministic argmax, literal-replace merge) stage by stage — one
    // wrong tie-break or rewrite anywhere diverges every later merge
    "bpe_merges" -> ((s, dir) => TextOps.bpeMerges(docs(s, dir), numMerges = 8)),

    // batched BPE training (round 6): up to 4 merges per census round —
    // the distributed-rounds scale path. The oracle replays the batch
    // rule itself (rank, greedy disjoint accept, one rewrite per round),
    // NOT the sequential cascade: merge ORDER legitimately diverges from
    // sequential on chained merges (documented in the Scaladoc with a
    // three-word proof), so the gate pins the rule value-exactly
    "bpe_merges_batched" -> ((s, dir) =>
      TextOps.bpeMergesBatched(docs(s, dir), numMerges = 8, batch = 4)),

    // same trainer and oracle as bpe_merges: the key of the round-6
    // driver-side trainer, kept so that no gate key is dropped
    "bpe_merges_local" -> ((s, dir) =>
      TextOps.bpeMerges(docs(s, dir), numMerges = 8)),

    // train-then-apply: the learned 8-merge table re-tokenizes the
    // corpus; per-doc counts under the learned vocab must match the
    // oracle's replay of the full cascade + vocab-apply join
    "bpe_encode" -> ((s, dir) => {
      val merges = TextOps.bpeMerges(docs(s, dir), numMerges = 8)
        .collect().sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextOps.bpeTokenCounts(docs(s, dir), merges)
    }),

    // within-doc line dedup over a staged fixture that plants an
    // immediate duplicate pair AND a far duplicate (first line repeated
    // at the end): both must collapse to the first occurrence, order
    // preserved
    "dedup_lines_withindoc" -> ((s, dir) => {
      // coalesce pins the staging rule engine-identically: concat_ws
      // SKIPS a null argument (separator and all) while the oracle's
      // || propagates, so both sides stage nulls as '' explicitly
      val staged = docs(s, dir).select(col("doc_id"),
        concat_ws("\n", coalesce(col("text"), lit("")),
          concat(lit("dup "), (col("doc_id") % 3).cast("string")),
          concat(lit("dup "), (col("doc_id") % 3).cast("string")),
          coalesce(col("text"), lit(""))).as("text"))
      staged.select(col("doc_id"), TextOps.dedupLinesWithinDoc(col("text")).as("text"))
    }),

    // cross-doc duplicated 8-token spans over the NATURAL corpus — the
    // exact-dup doc groups guarantee hot spans exist unplanted (same
    // naturalness precedent as the events gates)
    "dup_spans" -> ((s, dir) => Dedup.dupSpans(docsBalanced(s, dir), n = 8)),

    // substring-level dedup: every token covered by a cross-doc
    // duplicated 8-gram removed, survivors reassembled in order; the
    // oracle replays grams -> hot set -> coverage -> anti-join ->
    // ordered reassembly
    "dup_span_removal" -> ((s, dir) => Dedup.removeDupSpans(docs(s, dir), n = 8)),

    // corpus-unigram LM quality score; ROUND(6) absorbs float-sum
    // association order and libm ln ulp differences (same precedent as
    // ngram_jaccard / tfidf)
    "lm_logprob" -> ((s, dir) =>
      TextOps.unigramLogProb(docs(s, dir))
        .select(col("doc_id"), round(col("lm_logprob"), 6).as("lm_logprob"))),

    // CCNet-style head/middle/tail terciles of the LM score. Buckets
    // are assigned over the ROUNDED score (the value the lm_logprob
    // gate proves byte-equal across engines) so the quantile thresholds
    // and >= comparisons are float-exact on both sides
    "lm_buckets" -> ((s, dir) => {
      val scored = TextOps.unigramLogProb(docs(s, dir))
        .select(col("doc_id"), round(col("lm_logprob"), 6).as("lm_logprob"))
      Stats.bucketByQuantilesExact(scored, "lm_logprob",
        Seq(1.0 / 3, 2.0 / 3), Seq("tail", "middle", "head"))
    }),

    // domain balancing: keep the 10 longest docs per source (ties by
    // doc_id) via the bounded per-group heap — the no-window top-N
    "domain_cap" -> ((s, dir) =>
      Sampling.capPerGroup(docs(s, dir).withColumn("score", col("n_chars").cast("double")),
        n = 10, groupCol = "source", scoreCol = "score")),

    // C4-style line-level boilerplate removal over a deterministic
    // multi-line staging of the corpus (the raw docs are single-line):
    // a header line shared by ALL docs and a footer shared by ~1/7 of
    // them must go; every unique body line must survive byte-for-byte
    // in original order (the corpus has no text shared by >= 25 docs,
    // so no body line crosses the threshold at any provided SF)
    "boilerplate_removal" -> ((s, dir) => {
      // coalesce: same engine-identical null staging rule as
      // dedup_lines_withindoc (concat_ws skips nulls, || propagates)
      val staged = docs(s, dir).select(col("doc_id"),
        concat_ws("\n", lit("=== COMMON HEADER ==="), coalesce(col("text"), lit("")),
          concat(lit("footer "), (col("doc_id") % 7).cast("string"))).as("text"))
      TextOps.removeBoilerplate(staged, minDocs = 25)
        .select(col("doc_id"), col("text"))
    }),

    "text_subwords" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextOps.subwordCount(col("text")).cast("long").as("n_subwords"))),

    "doc_rolling_hash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.rollingFingerprint(col("text")).as("rh"))),

    // n-gram Jaccard as a first-class check: similarity of each planted
    // near-dup pair (text vs text + ' qq zz'), exact on both engines
    "ngram_jaccard" -> ((s, dir) =>
      docs(s, dir).filter(col("doc_id") % 11 === 5)
        .select(col("doc_id"),
          round(Dedup.jaccard(
            Dedup.shingles(col("text")),
            Dedup.shingles(concat(col("text"), lit(" qq zz")))), 6).as("jaccard"))),

    "multimodal_resample" -> ((s, dir) =>
      Multimodal.resample(Multimodal.asMediaTable(docs(s, dir)))
        .toDF().select(col("doc_id"),
          col("n_bytes").cast("long").as("n_bytes"), col("resampled_md5"))),

    // ---------- similarity / ANN over embeddings ----------
    "ann_cosine_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Ann.bruteForceTopK(e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8), 10)
        .select(col("query_id"), col("cand_id"), col("sim"), col("rank").cast("long").as("rank"))
    }),

    "embed_norms" -> ((s, dir) =>
      embeddings(s, dir).select(
        col("vec_id"),
        col("label").cast("long").as("label"),
        round(Ann.l2Norm(col("embedding")), 6).as("l2"))),

    // embedding-cosine near-dup (exact baseline; tau=0.42 sits in a
    // measured gap: the nearest pair is >=7e-4 from the boundary at the
    // gate scales, far beyond any cross-engine arithmetic divergence)
    "embed_neardup_pairs" -> ((s, dir) =>
      Ann.cosineNearDupPairs(embeddingsBalanced(s, dir), tau = 0.42)),

    // the SCALE path for embedding near-dup: seeded SRP-LSH banding +
    // exact verify, gated against the exact all-pairs oracle over the
    // planted pool. Recall is a deterministic property of the baked
    // hyperplane seed and the data: verified 0 missed / 0 extra at
    // sf0.001/0.01/0.1 (planted pairs sit at cos >= 0.998, per-pair miss
    // probability ~4e-5 at 16 planes / 4 bands; densest base pair 0.605)
    "embed_neardup_srp" -> ((s, dir) =>
      Ann.srpNearDupPairs(embPool(s, dir), tau = 0.95, dim = 64)),

    // simhash at hamming 1..3 (beyond the hamming=0 degenerate case):
    // replayable md5-derived token bits so the oracle recomputes
    // signature + hamming end-to-end in DuckDB; at maxHamming=3 with 4
    // bands the band join provably finds every qualifying pair
    "simhash_near_pairs" -> ((s, dir) =>
      Dedup.simhashPairsFromSig(
          Dedup.simhashTableMd5(simhashNearPool(s, dir), "text", "doc_id"), maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))),

    // the dedup-first composition (the actual 100-TB recipe): exact
    // dedup -> LSH over representatives -> expand back to member pairs.
    // Its output must equal the plain all-pairs ground truth, i.e. the
    // SAME oracle as minhash_pairs
    "minhash_pairs_dedup" -> ((s, dir) => {
      val (repPairs, members) =
        Dedup.minhashPairsDeduped(dedupPool(s, dir), k = 24, bands = 12, threshold = 0.5)
      val m1 = members.select(col("keep_id").as("id_a"), col("doc_id").as("mem_a"))
      val m2 = members.select(col("keep_id").as("id_b"), col("doc_id").as("mem_b"))
      val cross = repPairs.join(m1, "id_a").join(m2, "id_b")
        .select(least(col("mem_a"), col("mem_b")).as("id_a"),
          greatest(col("mem_a"), col("mem_b")).as("id_b"),
          round(col("jaccard"), 6).as("jaccard"))
      val within = members.select(col("keep_id"), col("doc_id").as("a"))
        .join(members.select(col("keep_id"), col("doc_id").as("b")), "keep_id")
        .filter(col("a") < col("b"))
        .select(col("a").as("id_a"), col("b").as("id_b"), lit(1.0).as("jaccard"))
      cross.unionByName(within)
    }),

    // ---------- keyword vocabulary over the dirty derived table ----------
    "v_lengths_types" -> ((s, dir) => dirtyViolations(s, dir, s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "code": { "type": "string", "minLength": 4, "maxLength": 7 },
          "frac": { "type": "integer" }
        } }""")),

    "v_formats" -> ((s, dir) => dirtyViolations(s, dir, balance = true, schemaJson = s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "email":  { "type": "string", "format": "email" },
          "ip":     { "type": "string", "format": "ipv4" },
          "url":    { "type": "string", "format": "uri" },
          "dt_str": { "type": "string", "format": "date-time" },
          "host":   { "type": "string", "format": "hostname" },
          "ip6":    { "type": "string", "format": "ipv6" },
          "rgx":    { "type": "string", "format": "regex" }
        } }""")),

    "v_combinators" -> ((s, dir) => dirtyViolations(s, dir, s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "onec": { "oneOf": [ { "type": "string", "pattern": "^ab" },
                               { "type": "string", "pattern": "b" } ] },
          "anyc": { "anyOf": [ { "type": "string", "pattern": "^x" },
                               { "type": "string", "minLength": 5 } ] },
          "allc": { "allOf": [ { "type": "string", "pattern": "^p" },
                               { "type": "string", "maxLength": 4 } ] },
          "notc": { "not": { "type": "string", "enum": ["forbidden"] } }
        } }""")),

    "v_arrays" -> ((s, dir) => dirtyViolations(s, dir, s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "tags": { "type": "array", "minItems": 1, "maxItems": 4, "uniqueItems": true,
                    "items": { "type": "string", "pattern": "^[a-z]+$$" } },
          "pair": { "type": "array",
                    "items": [ { "type": "string", "pattern": "^k" },
                               { "type": "string", "pattern": "^v" } ],
                    "additionalItems": false }
        } }""")),

    // combinators NESTED inside items: each element must match exactly
    // one oneOf branch ('n9' matches both -> violation, 'zz' neither)
    "v_array_oneof" -> ((s, dir) => dirtyViolations(s, dir, s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "mix": { "type": "array",
                   "items": { "oneOf": [ { "type": "string", "pattern": "^n[0-9]+$$" },
                                         { "type": "string", "pattern": "9$$" } ] } }
        } }""")),

    "v_maps" -> ((s, dir) => dirtyViolations(s, dir, s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "attrs": { "type": "object", "minProperties": 1, "maxProperties": 3,
                     "required": ["kind"],
                     "properties": { "kind": { "type": "string", "enum": ["a", "b"] } },
                     "patternProperties": { "^x_": { "type": "string", "pattern": "^[0-9]+$$" } },
                     "additionalProperties": { "type": "string", "maxLength": 4 } }
        } }""")),

    // object schema on a STRUCT-typed column (the fail-open class the
    // round-2 review caught: without the struct branch this compiled to
    // zero checks and every planted violation passed silently)
    "v_structs" -> ((s, dir) => dirtyViolations(s, dir, balance = true, schemaJson = s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "meta": { "type": "object", "minProperties": 1, "maxProperties": 3,
                    "required": ["kind"],
                    "properties": { "kind": { "type": "string", "enum": ["a", "b"] },
                                    "note": { "type": "string", "maxLength": 6 } },
                    "patternProperties": { "^x_": { "type": "string", "pattern": "^[0-9]+$$" } },
                    "additionalProperties": { "type": "string", "maxLength": 4 } }
        } }""")),

    // t-digest quantiles gated against the exact per-engine quantile:
    // exact_q pins Spark `percentile` == DuckDB `quantile_cont`; td_ok
    // pins the sketch inside an absolute band of the exact value
    "stats_quantiles" -> ((s, dir) => {
      val t = TranscriptDerive.fromLineitem(s, dir).select(
        col("turn_idx").cast("double").as("v1"),
        length(col("text")).cast("double").as("v2"))
      val pArr = typedlit(quantileProbs)
      val agg = t.agg(
        percentile(col("v1"), pArr).as("e1"), Stats.quantileAgg(col("v1"), quantileProbs).as("t1"),
        percentile(col("v2"), pArr).as("e2"), Stats.quantileAgg(col("v2"), quantileProbs).as("t2"))
      val rows = quantileProbs.zipWithIndex.flatMap { case (p, i) =>
        def one(name: String, e: String, td: String, band: Double) =
          struct(lit(name).as("col_name"), lit(p).as("p"),
            round(element_at(col(e), i + 1), 6).as("exact_q"),
            (abs(element_at(col(td), i + 1) - element_at(col(e), i + 1)) <= lit(band)).as("td_ok"))
        Seq(one("turn_idx", "e1", "t1", 0.75), one("text_len", "e2", "t2", 2.0))
      }
      agg.select(explode(array(rows: _*)).as("s")).select(col("s.*"))
    }),

    // MinHash+LSH near-dup pairs vs an exact all-pairs DuckDB oracle.
    // Parameter choice is measured, not guessed: the corpus' true-pair
    // Jaccard spectrum is bimodal (random pairs E[J^2]~1e-5, max 0.069;
    // planted pairs J>=0.8). Two-row bands (k=24, b=12) keep expected
    // random candidates at ~12*|pairs|*E[J^2] (a few thousand at sf0.1,
    // so the exact-verify stage stays tiny) while the planted-pair miss
    // probability is <=(1-0.8^2)^12 ~ 5e-6 per pair — and the baked hash
    // seeds make recall a fixed property of the dataset, verified
    // exhaustively at the gate scale. One-row bands would be certain
    // recall but ~1M random candidates: verification, not banding,
    // dominates LSH cost.
    "minhash_pairs" -> ((s, dir) =>
      Dedup.minhashPairs(dedupPool(s, dir), k = 24, bands = 12, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))),

    // character-level second opinion on the LSH candidates: pairs
    // within 8 Levenshtein edits (planted near-dups are 6 inserted
    // chars), thresholded banded DP + length-gap prefilter
    "neardup_edit_verify" -> ((s, dir) => {
      val pool = dedupPool(s, dir)
      Dedup.editVerifiedPairs(pool,
        Dedup.minhashPairs(pool, k = 24, bands = 12, threshold = 0.5), maxDistance = 8)
        .select(col("id_a"), col("id_b"), col("edit_dist"))
    }),

    // near-dup CLUSTERS: LSH pairs -> connected components. Oracle
    // replays the transitive closure with a recursive CTE over the exact
    // all-pairs Jaccard ground truth.
    "neardup_components" -> nearDupComponents,

    // the same operator under a second key: gate keys are never dropped,
    // and the deep-graph large-star/small-star tail of
    // connectedComponents stays named in the gate list
    "neardup_components_alt" -> nearDupComponents,

    // the end state of the 100-TB near-dup recipe: one canonical doc
    // per component survives, all unpaired docs pass through
    "neardup_survivors" -> ((s, dir) =>
      Dedup.nearDupSurvivors(dedupPool(s, dir), k = 24, bands = 12, threshold = 0.5)
        .select(col("doc_id").cast("long").as("doc_id"))),

    // keep-policy variant: the LONGEST member of each cluster survives
    // (ties -> smallest id); the pool's 'qq zz'-suffixed near-copies are
    // longer than their bases, so this genuinely flips survivors vs the
    // min-id rule — the oracle replays the argmax over the same
    // recursive-CTE components
    "neardup_survivors_quality" -> ((s, dir) =>
      Dedup.nearDupSurvivorsBy(dedupPool(s, dir), length(col("text")),
          k = 24, bands = 12, threshold = 0.5)
        .select(col("doc_id").cast("long").as("doc_id"))),

    // deterministic hash sampling (md5-replayable variant so the oracle
    // recomputes membership bit-for-bit; the xxhash64 production variant
    // is equivalence-tested in PipelineSpec)
    "sample_docs" -> ((s, dir) =>
      Sampling.hashSampleMd5(docs(s, dir), 0.2, "doc_id")
        .select(col("doc_id").cast("long").as("doc_id"))),

    // data-mixing: per-language rates, unlisted languages at 5%
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSampleMd5(docs(s, dir), "doc_id", "lang",
        Map("en" -> 0.5, "zh" -> 0.25), defaultRate = 0.05, salt = "mix1")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"))),

    // training-mix weight > 1: deterministic fractional up-sampling
    // (2.3 epochs -> 2 copies always, an md5-selected 30% get a third)
    "upsample_docs" -> ((s, dir) =>
      Sampling.upsampleMd5(docs(s, dir), 2.3, "doc_id", salt = "up1")
        .select(col("doc_id").cast("long").as("doc_id"), col("copy_idx"))),

    // tokenizer-training primitive: corpus bigram frequencies, top-50
    // by (count desc, pair asc) — deterministic tie order both engines
    "token_pairs" -> ((s, dir) =>
      TextOps.tokenPairCounts(docs(s, dir), topN = 50)
        .select(col("pair"), col("n"))),

    // corpus LM quality, one step up from lm_logprob: interpolated
    // bigram score with continuation-count backoff, every model table
    // derived from ONE per-doc pair-count aggregate
    "bigram_logprob" -> ((s, dir) =>
      TextOps.bigramLogProb(docs(s, dir), lambda = 0.8)
        .select(col("doc_id"), col("bigram_logprob"))),

    // Pearson chi-square independence test between two categorical
    // columns (is the lang mix the same across sources?) — observed
    // cells from one count agg, expected from the marginals' cross
    // join (so ZERO-observed cells still contribute their expected
    // mass), one (chi2, dof) row out
    "chi2_source_lang" -> ((s, dir) => {
      val d = docs(s, dir).select(
        coalesce(col("source"), lit("<null>")).as("src"),
        coalesce(col("lang"), lit("<null>")).as("lng"))
      val obs = d.groupBy("src", "lng").agg(count(lit(1)).as("o"))
      val rowT = obs.groupBy("src").agg(sum(col("o")).as("rt"))
      val colT = obs.groupBy("lng").agg(sum(col("o")).as("ct"))
      val n = obs.agg(sum(col("o")).cast("double").as("__n"))
      val e = col("rt").cast("double") * col("ct").cast("double") / col("__n")
      rowT.crossJoin(colT).join(obs, Seq("src", "lng"), "left")
        .select(col("rt"), col("ct"), coalesce(col("o"), lit(0L)).as("o"))
        .crossJoin(broadcast(n))
        .select(((col("o").cast("double") - e) * (col("o").cast("double") - e) / e).as("term"))
        .agg(round(sum(col("term")), 6).as("chi2"))
        .crossJoin(
          rowT.agg(count(lit(1)).as("__r")).crossJoin(colT.agg(count(lit(1)).as("__c")))
            .select(((col("__r") - 1) * (col("__c") - 1)).as("dof")))
    }),

    // multi-level corpus profile in ONE pass: per-(source, lang)
    // detail, per-source subtotal, grand total via rollup —
    // grouping_id disambiguates rollup nulls from data nulls
    "stats_rollup" -> ((s, dir) =>
      docs(s, dir).rollup(col("source"), col("lang"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .select(col("source"), col("lang"), col("gid"),
          col("n_docs"), col("avg_chars"))),

    // fixed-budget eval-set sampling: exactly min(10, |source|) docs per
    // source, k-smallest-md5 membership (layout-invariant, replayable)
    "reservoir_bygroup" -> ((s, dir) =>
      Sampling.reservoirByGroupMd5(docs(s, dir), k = 10, "doc_id", "source", salt = "rs1")
        .select(col("doc_id"), col("source"))),

    // quality-weighted eval sampling: inclusion odds proportional to
    // n_chars (A-ES keys ranked by ln(u)/w, md5-derived u)
    "weighted_reservoir" -> ((s, dir) =>
      Sampling.weightedReservoirByGroupMd5(docs(s, dir), k = 10, "doc_id", "source",
        "n_chars", salt = "wr1")
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // per-domain heavy hitters: top-10 tokens per source through the
    // bounded-heap typed aggregator (map-side partial top-k — never a
    // per-group row_number window)
    "vocab_bygroup" -> ((s, dir) =>
      TextOps.vocabularyByGroup(docs(s, dir), k = 10)
        .select(col("source"), col("rank"), col("token"), col("tf"))),

    // temperature-balanced mixing (alpha=0.3): per-source natural share
    // p, target share q ~ p^alpha, and the epochs factor that realizes
    // q at the same total row budget
    "temperature_mix" -> ((s, dir) =>
      Sampling.temperatureMixRates(docs(s, dir), "source", alpha = 0.3)
        .select(col("source"), col("n_rows"), col("p"), col("q"), col("epochs"))),

    // collocation mining: top-40 adjacent pairs by pointwise mutual
    // information among pairs seen >= 5 times (the phrase-mining
    // statistic; rare pairs pruned BEFORE the unigram joins)
    "pmi_bigrams" -> ((s, dir) =>
      TextOps.pmiCollocations(docs(s, dir), topN = 40, minCount = 5)
        .select(col("l"), col("r"), col("n"), col("pmi"))),

    // gibberish/encoded-blob detector: per-doc character-level Shannon
    // entropy in bits (explode + two map-side-combining aggs)
    "char_entropy" -> ((s, dir) =>
      TextOps.charEntropy(docs(s, dir))
        .select(col("doc_id"), col("char_entropy"))),

    // batch retrieval: three queries scored in ONE corpus pass, ranked
    // per query by the bounded-heap aggregator (never a global sort)
    "bm25_multi" -> ((s, dir) =>
      TextOps.bm25Multi(docsBalanced(s, dir), Map(
        "q_engine" -> Seq("spark", "join"),
        "q_stream" -> Seq("stream", "window"),
        "q_data" -> Seq("vector", "data")), k = 10)
        .select(col("query"), col("rank"), col("doc_id"), col("bm25"))),

    // ranked retrieval: Okapi BM25 top-40 docs for a 4-term query; the
    // corpus explode is isin-pruned to query terms before any shuffle
    "bm25_topk" -> ((s, dir) =>
      TextOps.bm25(docs(s, dir), Seq("spark", "join", "window", "vector"), topN = 40)
        .select(col("doc_id"), col("bm25"))),

    // the general mixing rule: per-stratum weights both below and above
    // 1 in ONE operator (en 1.5 epochs, zh 25%, everything else 5%)
    "mix_weights" -> ((s, dir) =>
      Sampling.mixWeightsMd5(docs(s, dir), "doc_id", "lang",
        Map("en" -> 1.5, "zh" -> 0.25), defaultWeight = 0.05, salt = "mw1")
        .select(col("doc_id").cast("long").as("doc_id"), col("lang"), col("copy_idx"))),

    // deterministic shard assignment: the exact exchange+sort a shard
    // writer runs, emitted as data so layout is auditable
    "shard_assign" -> ((s, dir) =>
      Sampling.shardAssignMd5(docs(s, dir), numShards = 8, "doc_id", salt = "sh1")
        .select(col("doc_id").cast("long").as("doc_id"), col("shard"), col("shard_pos"))),

    // disjoint-by-construction train/val/test assignment (95/3/2)
    "split_assign" -> ((s, dir) =>
      Sampling.assignSplitsMd5(docs(s, dir), "doc_id",
        Seq("train" -> 0.95, "val" -> 0.03, "test" -> 0.02), salt = "sp1")
        .select(col("doc_id").cast("long").as("doc_id"), col("split"))),

    // repetition quality signals: Gopher-style duplicate-3-gram ratio
    // (per-row array arithmetic) + top-token share (explode + two
    // map-side-combining aggs)
    "text_repetition" -> ((s, dir) => {
      val d = docs(s, dir)
      d.select(col("doc_id"),
          TextOps.dupNgramRatio(col("text"), 3).as("dup_3gram_ratio"))
        .join(TextOps.topTokenShare(d), "doc_id")
    }),

    // PII redaction over deterministically planted email/SSN/phone
    // (real docs carry none); output hashed so the gate compares the
    // full redacted text without shipping it
    "pii_redact" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        md5(TextOps.redactPii(concat(
          col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-123-45"), col("doc_id"),
          lit(" ssn 123-45-6789")))).as("redacted_md5"))),

    // benchmark decontamination: docs sharing any 8-gram with the
    // benchmark slice (doc_id % 13 == 1), counted per doc
    "contamination" -> ((s, dir) => {
      val d = docsBalanced(s, dir)
      TextOps.contaminationHits(d, d.filter(col("doc_id") % 13 === 1), n = 8)
        .select(col("doc_id"), col("n_hits").cast("long").as("n_hits"))
    }),

    // the contamination operator under a second, pinned gate key (same
    // oracle SQL as `contamination`)
    "contamination_bloom" -> ((s, dir) => queries("contamination")(s, dir)),

    // sequence packing (concat-and-chunk): global token offsets via the
    // scalable prefix sum — range repartition + partitioned window +
    // broadcast partition prefixes, never a single-partition window
    "pack_chunks" -> ((s, dir) =>
      Packing.packChunks(docs(s, dir), budget = 512)),

    // corpus vocabulary: top-100 tokens by total frequency with doc
    // frequency; deterministic (tf desc, token asc) total order
    "vocab_topk" -> ((s, dir) =>
      TextOps.vocabulary(docs(s, dir), topN = 100)
        .select(col("token"), col("tf").cast("long").as("tf"),
          col("df").cast("long").as("df"))),

    // TF-IDF over the top-20 vocabulary (broadcast vocab join)
    "tfidf_topvocab" -> ((s, dir) =>
      TextOps.tfidf(docs(s, dir), vocabSize = 20)
        .select(col("doc_id"), col("token"), col("weight"))),

    // quality cutoff: docs at or above the corpus median length —
    // exact-percentile threshold broadcast into a map-side filter
    "quality_filter" -> ((s, dir) =>
      Stats.aboveQuantileExact(docs(s, dir), "n_chars", 0.5)
        .select(col("doc_id"), col("n_chars"))),

    // score calibration: each doc's exact within-source CDF rank of
    // n_chars (integer counts — bit-deterministic, no interpolation)
    "cdf_bygroup" -> ((s, dir) =>
      Stats.cdfByGroup(docs(s, dir), "n_chars", "source")
        .select(col("doc_id"), col("source"), col("n_chars"), col("cdf"))),

    // per-SOURCE cutoff (the CCNet per-language shape): each doc is
    // judged against its own source's 0.75-quantile, not the corpus's
    "quality_filter_bygroup" -> ((s, dir) =>
      Stats.aboveQuantileByGroupExact(docs(s, dir), "n_chars", 0.75, "source")
        .select(col("doc_id"), col("source"), col("n_chars"))),

    // the whole recipe end to end: exact dedup -> quality cutoff ->
    // deterministic sample -> sequence packing. Every stage is the
    // production operator; the oracle replays the full chain.
    "pipeline_endtoend" -> ((s, dir) => {
      val d = docs(s, dir)
      val survivors = d.join(
        Dedup.exactSurvivors(d).select(col("keep_id").as("doc_id")), "doc_id")
      val filtered = Stats.aboveQuantileExact(survivors, "n_chars", 0.25)
      val sampled = Sampling.hashSampleMd5(filtered, 0.5, "doc_id", salt = "e2e")
      Packing.packChunks(sampled, budget = 256)
    }),

    // SimHash pairs restricted to the exact-duplicate ground truth:
    // identical text => identical signature => all bands collide and
    // hamming = 0, so the pair set is provably the md5 self-join
    "simhash_dup_pairs" -> ((s, dir) => {
      val pool = dedupPool(s, dir)
      val pairs = Dedup.simhashPairs(pool, maxHamming = 0)
      val ta = pool.select(col("doc_id").as("id_a"), col("text").as("ta"))
      val tb = pool.select(col("doc_id").as("id_b"), col("text").as("tb"))
      pairs.join(ta, "id_a").join(tb, "id_b")
        .filter(col("ta") === col("tb"))
        .select(col("id_a"), col("id_b"), col("hamming").cast("long").as("hamming"))
    }),

    "ivf_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Ann.ivfTopK(
        e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8),
        e.filter(col("vec_id") % 97 === 0), k = 10, nprobe = 2)
        .select(col("query_id"), col("cand_id"), col("sim"), col("rank").cast("long").as("rank"))
    }),

    // int8 embedding quantization: the round-trip error bound scale/2
    // holds BY CONSTRUCTION per element, so the gate demands it for
    // every element of every vector (engine-side invariant; the oracle
    // supplies the deterministic expected counts)
    "embed_quantize" -> ((s, dir) => {
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
    }),

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
    "ivf_trained_recall" -> ((s, dir) => {
      val e = embeddingsBalanced(s, dir)
      val q = embPool(s, dir).filter(col("vec_id") >= 2000000)
      val cents = Ann.kmeansCentroids(e, k = 8, iters = 4)
      Ann.ivfTopK(q, e, cents, k = 10, nprobe = 3)
        .agg(
          countDistinct(col("query_id")).as("n_queries"),
          sum(when(col("cand_id") === col("query_id") - 2000000 && col("rank") === 1, 1L)
            .otherwise(0L)).as("found_at_1"))
    })
  )

  /** Generated stage-by-stage DuckDB replay of [[graft.pipeline.TextOps
    * .bpeMerges]]: c0 = the symbol-encoded word census, then per merge
    * round i a pair-count CTE (p_i), a deterministic 1-row argmax
    * (m_i), and the literal-replace rewrite (c_{i+1}) — the same
    * 2-space-separator encoding as the Spark side, so plain `replace`
    * IS the BPE merge rule on both engines. When the corpus exhausts
    * its merges before `numMerges` rounds, m_i is EMPTY and the scalar
    * subqueries go NULL — the CASE guard makes c_{i+1} the identity
    * then (matching Spark's early stop) instead of NULLing every sym.
    */
  private def bpeCascade(numMerges: Int): String = {
    val seed =
      """w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents) t
        |  WHERE word <> '' GROUP BY word),
        |c0 AS MATERIALIZED (SELECT word, ' ' || array_to_string(
        |  list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)), '  ')
        |  || '  </w> ' AS sym, n FROM w)""".stripMargin
    val stages = (0 until numMerges).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT struct_extract(pr, 'l') AS l, struct_extract(pr, 'r') AS r,
         |         CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, unnest(list_transform(ts[1:len(ts)-1], (x, k) -> {'l': x, 'r': ts[k+1]})) AS pr
         |        FROM (SELECT n, string_split(trim(sym), '  ') AS ts FROM c$i))
         |  GROUP BY 1, 2),
         |m$i AS MATERIALIZED (SELECT l, r, cnt FROM p$i ORDER BY cnt DESC, l ASC, r ASC LIMIT 1),
         |c${i + 1} AS MATERIALIZED (SELECT word, CASE
         |    WHEN (SELECT COUNT(*) FROM m$i) = 0 THEN sym
         |    ELSE replace(sym,
         |      ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
         |      ' ' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ' ')
         |    END AS sym, n FROM c$i)""".stripMargin
    }
    s"$seed,\n${stages.mkString(",\n")}"
  }

  /** Shared CTE prefix for the span-dedup oracles: tokenized docs (tt),
    * positional n-grams (g, 0-based starts; DuckDB's indexed lambda and
    * list slices are 1-based), and the cross-doc duplicated gram set
    * (hot).
    */
  private def spanCte(n: Int): String =
    s"""tt AS MATERIALIZED (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ts FROM documents),
       |g AS MATERIALIZED (
       |  SELECT doc_id, struct_extract(s, 'start') AS start, struct_extract(s, 'gram') AS gram
       |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(ts) - $n + 2),
       |          i -> {'start': i - 1, 'gram': array_to_string(ts[i:i + $n - 1], ' ')})) AS s
       |        FROM tt WHERE len(ts) >= $n)),
       |hot AS MATERIALIZED (
       |  SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
       |  FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2)""".stripMargin

  /** Shared CTE prefix for the unigram-LM oracles: whitespace tokens
    * (toks2), corpus LM counts (lm), grand total (tot), and the per-doc
    * ROUND(6) score (scored). lm_logprob selects from `scored`
    * directly; lm_buckets layers terciles on top — one definition so
    * the two gates cannot drift to different score semantics.
    */
  private val lmScoredCte: String =
    """toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
      |toks2 AS (SELECT * FROM toks WHERE t <> ''),
      |lm AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks2 GROUP BY t),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM lm),
      |scored AS (
      |  SELECT doc_id, ROUND(AVG(ln(CAST(cnt AS DOUBLE) / total)), 6) AS lm_logprob
      |  FROM toks2 JOIN lm USING (t), tot GROUP BY doc_id)""".stripMargin

  private def bpeMergesOracle(numMerges: Int): String = {
    val finals = (0 until numMerges).map(i =>
      s"SELECT CAST($i AS BIGINT) AS step, l AS left_sym, r AS right_sym, cnt AS pair_count FROM m$i")
      .mkString(" UNION ALL ")
    s"WITH ${bpeCascade(numMerges)}\n$finals"
  }

  /** Replays the BATCH-selection rule itself (graft.pipeline.TextOps
    * .bpeMergesBatched), not the sequential cascade: per round, rank
    * pairs (cnt desc, l, r) within the top `8 * batch` scan window,
    * greedily accept up to `least(batch, remaining)` pairs in rank
    * order skipping any pair sharing a symbol with one already
    * accepted this round, apply the whole batch in one rewrite. Greedy
    * "scan and skip" == chained "top-1 disjoint from accepted so far",
    * which is plain SQL (one small sub-CTE per batch slot — no
    * recursion, nothing census-sized). Worst case every round accepts
    * one merge, so `numMerges` stages are generated; spent stages
    * no-op once the merge budget is reached. Together with the
    * sequential bpe_merges gate this pins both the rule and its
    * sequential-equality on the fixture corpus.
    */
  private def bpeMergesBatchedOracle(numMerges: Int, batch: Int): String = {
    val scanWindow = 8 * batch
    val seed =
      """w AS MATERIALIZED (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents) t
        |  WHERE word <> '' GROUP BY word),
        |c0 AS MATERIALIZED (SELECT word, ' ' || array_to_string(
        |  list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)), '  ')
        |  || '  </w> ' AS sym, n FROM w)""".stripMargin
    val stages = (0 until numMerges).map { i =>
      val cum = if (i == 0) "0"
      else (0 until i).map(j => s"(SELECT COUNT(*) FROM a$j)").mkString(" + ")
      // m_i = merges still allowed this round
      val mi = s"LEAST($batch, $numMerges - ($cum))"
      // slot g: the highest-ranked pair disjoint from slots 1..g-1
      val slots = (1 to batch).map { g =>
        val prevSyms =
          if (g == 1) ""
          else {
            val u = (1 until g).map(h => s"SELECT l AS s FROM a${i}_$h UNION ALL SELECT r FROM a${i}_$h")
              .mkString(" UNION ALL ")
            s" AND l NOT IN ($u) AND r NOT IN ($u)"
          }
        s"""a${i}_$g AS MATERIALIZED (
           |  SELECT l, r, cnt, rk FROM r$i
           |  WHERE ($mi) >= $g$prevSyms
           |  ORDER BY rk LIMIT 1)""".stripMargin
      }
      val aUnion = (1 to batch).map(g => s"SELECT * FROM a${i}_$g").mkString(" UNION ALL ")
      // nested conditional replaces, slot g applies the g-th accepted
      // pair (rank order; disjoint symbols cannot interfere). Single
      // line on purpose: stripMargin over interpolated SQL would eat
      // one pipe of the '||' concatenations (see bpeEncodeOracle's NB)
      val applied = (1 to batch).foldLeft("sym") { (prev, g) =>
        val lg = s"(SELECT l FROM a$i ORDER BY rk LIMIT 1 OFFSET ${g - 1})"
        val rg = s"(SELECT r FROM a$i ORDER BY rk LIMIT 1 OFFSET ${g - 1})"
        s"CASE WHEN (SELECT COUNT(*) FROM a$i) >= $g " +
          s"THEN replace($prev, ' ' || $lg || '  ' || $rg || ' ', ' ' || $lg || $rg || ' ') " +
          s"ELSE $prev END"
      }
      s"""p$i AS MATERIALIZED (
         |  SELECT struct_extract(pr, 'l') AS l, struct_extract(pr, 'r') AS r,
         |         CAST(SUM(n) AS BIGINT) AS cnt
         |  FROM (SELECT n, unnest(list_transform(ts[1:len(ts)-1], (x, k) -> {'l': x, 'r': ts[k+1]})) AS pr
         |        FROM (SELECT n, string_split(trim(sym), '  ') AS ts FROM c$i))
         |  GROUP BY 1, 2),
         |r$i AS MATERIALIZED (
         |  SELECT l, r, cnt, rk FROM (
         |    SELECT l, r, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, l ASC, r ASC) AS rk
         |    FROM p$i) WHERE rk <= $scanWindow),
         |${slots.mkString(",\n")},
         |a$i AS MATERIALIZED ($aUnion),
         |c${i + 1} AS MATERIALIZED (SELECT word, $applied AS sym, n FROM c$i)""".stripMargin
    }
    val allA = (0 until numMerges).map(i =>
      s"SELECT $i AS stage, l, r, cnt, rk FROM a$i").mkString(" UNION ALL ")
    // NB: never stripMargin across the interpolated cascade — it would
    // eat one pipe of the cascade's own `||` concatenations
    s"WITH $seed,\n${stages.mkString(",\n")},\nall_a AS ($allA)\n" +
      "SELECT CAST(ROW_NUMBER() OVER (ORDER BY stage, rk) - 1 AS BIGINT) AS step, " +
      "l AS left_sym, r AS right_sym, cnt AS pair_count FROM all_a"
  }

  /** The final census stage keys every distinct word to its learned
    * token sequence; per-doc counts are a words->census join — the same
    * vocab-apply shape as the Spark side.
    */
  private def bpeEncodeOracle(numMerges: Int): String =
    // NB: never stripMargin across the interpolated cascade — it would
    // eat one pipe of the cascade's own `||` concatenations
    s"WITH ${bpeCascade(numMerges)}\n" +
      """SELECT d.doc_id, CAST(SUM(len(string_split(trim(c.sym), '  '))) AS BIGINT) AS n_bpe_tokens
        |FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word
        |      FROM documents) d
        |""".stripMargin +
      s"JOIN c$numMerges c USING (word) WHERE d.word <> '' GROUP BY d.doc_id"

  /** The capstone report's oracle nests the four component oracles as
    * COUNT subqueries, so it can never drift from them — defined after
    * the base map (the map literal is eager; self-reference inside it
    * would recurse at construction).
    */
  def oracleSql: Map[String, String] = oracleSqlBase +
    ("validation_report" ->
      s"""SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (${oracleSqlBase("v_violations")}) a) AS n_violations,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (${oracleSqlBase("uniq_duplicates")}) b) AS n_dup_keys,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (${oracleSqlBase("ref_orphans")}) c) AS n_orphans,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (${oracleSqlBase("turn_contiguity")}) d) AS n_noncontiguous""".stripMargin)

  private def oracleSqlBase: Map[String, String] = Map(
    "v_violations" ->
      s"""WITH $tCte
         |SELECT conv_id, turn_idx, ${ptrSql("role")} AS pointer, 'required' AS "constraint", 'null' AS actual
         |FROM transcripts WHERE role IS NULL
         |UNION ALL
         |SELECT conv_id, turn_idx, ${ptrSql("role")}, 'enum', role
         |FROM transcripts WHERE role IS NOT NULL AND role NOT IN ('system','user','assistant','tool')
         |UNION ALL
         |SELECT conv_id, turn_idx, ${ptrSql("conv_id")}, 'pattern', conv_id
         |FROM transcripts WHERE NOT regexp_matches(conv_id, '^c[0-9]+$$')
         |UNION ALL
         |SELECT conv_id, turn_idx, ${ptrSql("turn_idx")}, 'minimum', CAST(turn_idx AS VARCHAR)
         |FROM transcripts WHERE turn_idx < 0
         |UNION ALL
         |SELECT conv_id, turn_idx, ${ptrSql("tool")}, 'pattern', tool
         |FROM transcripts WHERE tool IS NOT NULL AND NOT regexp_matches(tool, '^[a-z][a-z0-9_]*$$')
         |UNION ALL
         |SELECT conv_id, turn_idx, ${ptrSql("tool")}, 'dependencies', tool
         |FROM transcripts WHERE tool IS NOT NULL AND role IS NULL""".stripMargin,

    "v_violation_counts" ->
      s"""WITH $tCte,
         |vios AS (
         |SELECT 'required' AS "constraint", 'role' AS "column" FROM transcripts WHERE role IS NULL
         |UNION ALL SELECT 'enum', 'role' FROM transcripts WHERE role IS NOT NULL AND role NOT IN ('system','user','assistant','tool')
         |UNION ALL SELECT 'pattern', 'conv_id' FROM transcripts WHERE NOT regexp_matches(conv_id, '^c[0-9]+$$')
         |UNION ALL SELECT 'minimum', 'turn_idx' FROM transcripts WHERE turn_idx < 0
         |UNION ALL SELECT 'pattern', 'tool' FROM transcripts WHERE tool IS NOT NULL AND NOT regexp_matches(tool, '^[a-z][a-z0-9_]*$$')
         |UNION ALL SELECT 'dependencies', 'tool' FROM transcripts WHERE tool IS NOT NULL AND role IS NULL)
         |SELECT "constraint", "column", CAST(COUNT(*) AS BIGINT) AS n
         |FROM vios GROUP BY 1, 2""".stripMargin,

    "uniq_duplicates" ->
      s"""WITH $tCte
         |SELECT conv_id, turn_idx, CAST(COUNT(*) AS BIGINT) AS dup_count
         |FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
         |GROUP BY conv_id, turn_idx HAVING COUNT(*) > 1""".stripMargin,

    // chr(1) == the Scala literal's  separator; string_agg's
    // ORDER BY replays the proven window order
    "conv_digest" ->
      s"""WITH $tCte
         |SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
         |       md5(string_agg(COALESCE(text, '<null>'), chr(1)
         |             ORDER BY turn_idx ASC NULLS FIRST, ts ASC NULLS FIRST,
         |                      role ASC NULLS FIRST, text ASC NULLS FIRST)) AS digest
         |FROM transcripts GROUP BY conv_id""".stripMargin,

    // COUNT(col) counts non-null tool turns in both engines
    "conv_tool_stats" ->
      s"""WITH $tCte
         |SELECT conv_id, CAST(COUNT(tool) AS BIGINT) AS n_tool_turns,
         |       CAST(COUNT(DISTINCT tool) AS BIGINT) AS n_distinct_tools,
         |       ROUND(CAST(COUNT(tool) AS DOUBLE) / COUNT(*), 6) AS tool_rate
         |FROM transcripts GROUP BY conv_id HAVING COUNT(tool) > 0""".stripMargin,

    // same total order as the operator (ASC NULLS FIRST is explicit —
    // DuckDB defaults to NULLS LAST on ASC, Spark to NULLS FIRST)
    "role_transitions" ->
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
         |FROM c JOIN t USING (role)""".stripMargin,

    // same three-valued HAVING as the operator's filter (the
    // n_distinct = n conjunct is plainly false for null-bearing convs,
    // so they flag in both engines)
    "turn_contiguity" ->
      s"""WITH $tCte
         |SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
         |       CAST(MIN(turn_idx) AS BIGINT) AS min_idx,
         |       CAST(MAX(turn_idx) AS BIGINT) AS max_idx,
         |       CAST(COUNT(DISTINCT turn_idx) AS BIGINT) AS n_distinct
         |FROM transcripts GROUP BY conv_id
         |HAVING NOT (MIN(turn_idx) = 0 AND MAX(turn_idx) = COUNT(*) - 1
         |            AND COUNT(DISTINCT turn_idx) = COUNT(*))""".stripMargin,

    "fd_source_lang" ->
      """SELECT source, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_dep,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM documents GROUP BY source HAVING COUNT(DISTINCT lang) > 1""".stripMargin,

    "ref_orphans" ->
      s"""WITH $tCte
         |SELECT conv_id, turn_idx, ${ptrSql("conv_id")} AS pointer, 'ref' AS "constraint", conv_id AS actual
         |FROM transcripts
         |WHERE conv_id NOT IN (SELECT conv_id FROM transcripts WHERE turn_idx = 0 AND conv_id IS NOT NULL)""".stripMargin,

    "stats_profile" -> {
      def one(n: String) =
        s"""SELECT '$n' AS col_name, CAST(COUNT(*) AS BIGINT) AS cnt,
           |CAST(SUM(CASE WHEN $n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
           |CAST(MIN($n) AS VARCHAR) AS min_value, CAST(MAX($n) AS VARCHAR) AS max_value,
           |CAST(COUNT(DISTINCT $n) AS BIGINT) AS n_distinct FROM transcripts""".stripMargin
      s"""WITH $tCte
         |${Seq("conv_id", "turn_idx", "role", "text", "tool", "ts").map(one).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // replays the exact inference rule per column: required = null-free,
    // numeric/timestamp bounds as doubles (timestamps in epoch micros),
    // string length bounds, enum = sorted exact value set when the
    // non-null distinct count is in [1,16] (string/integer columns only)
    "schema_infer" -> {
      // the pattern replay mirrors the fixed menu rule: first anchored
      // candidate with zero non-matching non-null values (none if the
      // column is all-null)
      val menuSql = graft.stats.SchemaInfer.patternMenu.map(pt =>
        s"WHEN COUNT(*) FILTER (WHERE VAL IS NOT NULL AND NOT regexp_matches(VAL, '$pt')) = 0 THEN '$pt'")
        .mkString(" ")
      def patSql(n: String) =
        s"""CASE WHEN COUNT(*) FILTER (WHERE $n IS NOT NULL) > 0
           |     THEN CASE ${menuSql.replace("VAL", n)} END END""".stripMargin
      def strCol(n: String) =
        s"""SELECT '$n' AS "column", 'string' AS json_type, CAST(NULL AS VARCHAR) AS format,
           |COUNT(*) FILTER (WHERE $n IS NULL) = 0 AND COUNT(*) > 0 AS required,
           |CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
           |CAST(MIN(LENGTH($n)) AS BIGINT) AS min_len, CAST(MAX(LENGTH($n)) AS BIGINT) AS max_len,
           |CASE WHEN COUNT(DISTINCT $n) BETWEEN 1 AND 16
           |     THEN array_to_string(list_sort(list(DISTINCT CAST($n AS VARCHAR))), chr(1)) END AS enum_vals,
           |${patSql(n)} AS pattern
           |FROM transcripts""".stripMargin
      def intCol(n: String) =
        s"""SELECT '$n', 'integer', CAST(NULL AS VARCHAR),
           |COUNT(*) FILTER (WHERE $n IS NULL) = 0 AND COUNT(*) > 0,
           |CAST(MIN($n) AS DOUBLE), CAST(MAX($n) AS DOUBLE),
           |CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
           |CASE WHEN COUNT(DISTINCT $n) BETWEEN 1 AND 16
           |     THEN array_to_string(list_sort(list(DISTINCT CAST($n AS VARCHAR))), chr(1)) END,
           |CAST(NULL AS VARCHAR)
           |FROM transcripts""".stripMargin
      def tsCol(n: String) =
        s"""SELECT '$n', 'string', 'date-time',
           |COUNT(*) FILTER (WHERE $n IS NULL) = 0 AND COUNT(*) > 0,
           |CAST(epoch_us(MIN($n)) AS DOUBLE), CAST(epoch_us(MAX($n)) AS DOUBLE),
           |CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
           |FROM transcripts""".stripMargin
      s"""WITH $tCte
         |${Seq(strCol("conv_id"), intCol("turn_idx"), strCol("role"),
                strCol("text"), strCol("tool"), tsCol("ts")).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // replays the implication rule per ordered column pair: holds iff
    // the antecedent is observed and no row has antecedent without
    // consequent
    "dep_suggest" -> {
      val tcols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
      val pairs = for { a <- tcols; b <- tcols if a != b } yield
        s"""SELECT '$a' AS antecedent, '$b' AS consequent,
           |COUNT(*) FILTER (WHERE $a IS NOT NULL) AS antecedent_rows,
           |COUNT(*) FILTER (WHERE $a IS NOT NULL AND $b IS NULL) AS violations,
           |COUNT(*) FILTER (WHERE $a IS NOT NULL) > 0
           |  AND COUNT(*) FILTER (WHERE $a IS NOT NULL AND $b IS NULL) = 0 AS holds
           |FROM transcripts""".stripMargin
      s"""WITH $tCte
         |${pairs.mkString("\nUNION ALL\n")}""".stripMargin
    },

    // replays the exact key rule per candidate: no null components, no
    // duplicate key groups (the HLL prune is Spark-internal — it can
    // only skip exact probes for candidates that are provably not keys)
    "key_candidates" -> {
      def one(cols: Seq[String]) = {
        val csv = cols.mkString(",")
        val anyNull = cols.map(c => s"$c IS NULL").mkString(" OR ")
        s"""SELECT '$csv' AS key_cols,
           |  (SELECT COUNT(*) FROM transcripts) AS n_rows,
           |  (SELECT COUNT(*) FROM transcripts WHERE $anyNull) AS null_rows,
           |  (SELECT COUNT(*) FROM transcripts WHERE $anyNull) = 0
           |    AND (SELECT COUNT(*) FROM transcripts) > 0
           |    AND NOT EXISTS (SELECT 1 FROM transcripts GROUP BY ${cols.mkString(", ")}
           |                    HAVING COUNT(*) > 1) AS is_key""".stripMargin
      }
      s"""WITH $tCte
         |${Seq(Seq("conv_id"), Seq("conv_id", "turn_idx"),
                Seq("conv_id", "turn_idx", "role"),
                Seq("conv_id", "turn_idx", "text")).map(one).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // replays the corruption rules over the identical base table:
    // invalid lines surface as all-null+corrupt, type-mangled lines
    // keep conv_id (parsed before the binding failure) and null the
    // rest, everything else round-trips untouched
    "jsonl_roundtrip" ->
      s"""WITH $tCte,
         |th AS (SELECT *, CAST(substr(conv_id,2) AS BIGINT) AS okey FROM transcripts)
         |SELECT CASE WHEN okey % 89 = 3 THEN NULL ELSE conv_id END AS conv_id,
         |  CASE WHEN okey % 89 = 3 OR okey % 97 = 41 THEN NULL ELSE turn_idx END AS turn_idx,
         |  CASE WHEN okey % 89 = 3 OR okey % 97 = 41 THEN NULL ELSE role END AS role,
         |  CASE WHEN okey % 89 = 3 OR okey % 97 = 41 THEN NULL ELSE text END AS text,
         |  CASE WHEN okey % 89 = 3 OR okey % 97 = 41 THEN NULL ELSE tool END AS tool,
         |  CASE WHEN okey % 89 = 3 OR okey % 97 = 41 THEN NULL ELSE epoch_us(ts) END AS ts_us,
         |  okey % 89 = 3 OR okey % 97 = 41 AS corrupt
         |FROM th""".stripMargin,

    // the schema_infer replay per half + the diff rule (both halves
    // carry all 6 columns, so status is always 'ok' on this fixture)
    "schema_drift" -> {
      val menuSql2 = graft.stats.SchemaInfer.patternMenu.map(pt =>
        s"WHEN COUNT(*) FILTER (WHERE VAL IS NOT NULL AND NOT regexp_matches(VAL, '$pt')) = 0 THEN '$pt'")
        .mkString(" ")
      def prof(half: Int) = {
        def patSql(n: String) =
          s"""CASE WHEN COUNT(*) FILTER (WHERE $n IS NOT NULL) > 0
             |     THEN CASE ${menuSql2.replace("VAL", n)} END END""".stripMargin
        def strCol(n: String) =
          s"""SELECT '$n' AS "column", 'string' AS json_type, CAST(NULL AS VARCHAR) AS format,
             |COUNT(*) FILTER (WHERE $n IS NULL) = 0 AND COUNT(*) > 0 AS required,
             |CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,
             |CAST(MIN(LENGTH($n)) AS BIGINT) AS min_len, CAST(MAX(LENGTH($n)) AS BIGINT) AS max_len,
             |CASE WHEN COUNT(DISTINCT $n) BETWEEN 1 AND 16
             |     THEN array_to_string(list_sort(list(DISTINCT CAST($n AS VARCHAR))), chr(1)) END AS enum_vals,
             |${patSql(n)} AS pattern
             |FROM th WHERE half = $half""".stripMargin
        def intCol(n: String) =
          s"""SELECT '$n', 'integer', CAST(NULL AS VARCHAR),
             |COUNT(*) FILTER (WHERE $n IS NULL) = 0 AND COUNT(*) > 0,
             |CAST(MIN($n) AS DOUBLE), CAST(MAX($n) AS DOUBLE),
             |CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
             |CASE WHEN COUNT(DISTINCT $n) BETWEEN 1 AND 16
             |     THEN array_to_string(list_sort(list(DISTINCT CAST($n AS VARCHAR))), chr(1)) END,
             |CAST(NULL AS VARCHAR)
             |FROM th WHERE half = $half""".stripMargin
        def tsCol(n: String) =
          s"""SELECT '$n', 'string', 'date-time',
             |COUNT(*) FILTER (WHERE $n IS NULL) = 0 AND COUNT(*) > 0,
             |CAST(epoch_us(MIN($n)) AS DOUBLE), CAST(epoch_us(MAX($n)) AS DOUBLE),
             |CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
             |FROM th WHERE half = $half""".stripMargin
        Seq(strCol("conv_id"), intCol("turn_idx"), strCol("role"),
          strCol("text"), strCol("tool"), tsCol("ts")).mkString("\nUNION ALL\n")
      }
      s"""WITH $tCte,
         |th AS (SELECT *, CAST(substr(conv_id,2) AS BIGINT) % 2 AS half FROM transcripts),
         |b AS (${prof(0)}),
         |c AS (${prof(1)}),
         |ne AS (SELECT b."column" AS col2,
         |  NULLIF(array_to_string(list_sort(list_filter(string_split(c.enum_vals, chr(1)),
         |    x -> NOT list_contains(string_split(b.enum_vals, chr(1)), x))), chr(1)), '') AS nv
         |  FROM b JOIN c USING ("column")
         |  WHERE b.enum_vals IS NOT NULL AND c.enum_vals IS NOT NULL)
         |SELECT b."column" AS "column", 'ok' AS status,
         |  b.json_type <> c.json_type OR COALESCE(b.format,'') <> COALESCE(c.format,'') AS type_changed,
         |  b.required AND NOT c.required AS nullability_regressed,
         |  COALESCE(c.min_num < b.min_num, FALSE) OR COALESCE(c.max_num > b.max_num, FALSE)
         |    OR COALESCE(c.min_len < b.min_len, FALSE) OR COALESCE(c.max_len > b.max_len, FALSE)
         |    AS bounds_widened,
         |  ne.nv AS new_enum_vals,
         |  b.enum_vals IS NOT NULL AND c.enum_vals IS NULL AS enum_exploded,
         |  b.pattern IS DISTINCT FROM c.pattern AS pattern_changed
         |FROM b JOIN c USING ("column") LEFT JOIN ne ON ne.col2 = b."column"""".stripMargin
    },

    "drift_role_klpsi" ->
      s"""WITH $tCte,
         |t2 AS (SELECT COALESCE(role,'<null>') AS bucket,
         |              CAST(substr(conv_id,2) AS BIGINT) % 2 AS half FROM transcripts),
         |p AS (SELECT bucket, COUNT(*) AS pc FROM t2 WHERE half = 0 GROUP BY bucket),
         |q AS (SELECT bucket, COUNT(*) AS qc FROM t2 WHERE half = 1 GROUP BY bucket),
         |j AS (SELECT COALESCE(pc,0) AS pc, COALESCE(qc,0) AS qc
         |      FROM p FULL OUTER JOIN q USING (bucket)),
         |tot AS (SELECT (SELECT SUM(pc) FROM p) AS pt, (SELECT SUM(qc) FROM q) AS qt),
         |r AS (SELECT GREATEST(CAST(pc AS DOUBLE)/pt, 1e-9) AS pi,
         |             GREATEST(CAST(qc AS DOUBLE)/qt, 1e-9) AS qi FROM j, tot)
         |SELECT ROUND(SUM(pi*LN(pi/qi)), 6) AS kl,
         |       ROUND(SUM((pi-qi)*LN(pi/qi)), 6) AS psi FROM r""".stripMargin,

    // same r CTE as the KL/PSI replay; nats summed, one /LN(2) at the
    // end (mirrors the Spark expression's arithmetic exactly)
    "drift_role_jsd" ->
      s"""WITH $tCte,
         |t2 AS (SELECT COALESCE(role,'<null>') AS bucket,
         |              CAST(substr(conv_id,2) AS BIGINT) % 2 AS half FROM transcripts),
         |p AS (SELECT bucket, COUNT(*) AS pc FROM t2 WHERE half = 0 GROUP BY bucket),
         |q AS (SELECT bucket, COUNT(*) AS qc FROM t2 WHERE half = 1 GROUP BY bucket),
         |j AS (SELECT COALESCE(pc,0) AS pc, COALESCE(qc,0) AS qc
         |      FROM p FULL OUTER JOIN q USING (bucket)),
         |tot AS (SELECT (SELECT SUM(pc) FROM p) AS pt, (SELECT SUM(qc) FROM q) AS qt),
         |r AS (SELECT GREATEST(CAST(pc AS DOUBLE)/pt, 1e-9) AS pi,
         |             GREATEST(CAST(qc AS DOUBLE)/qt, 1e-9) AS qi FROM j, tot)
         |SELECT ROUND(SUM(0.5*pi*LN(pi/((pi+qi)/2.0)) + 0.5*qi*LN(qi/((pi+qi)/2.0)))
         |             / LN(2.0), 6) AS jsd FROM r""".stripMargin,

    "drift_textlen_klpsi" ->
      s"""WITH $tCte,
         |t2 AS (SELECT LEAST(CAST(FLOOR(length(COALESCE(text,'')) / 16.0) AS BIGINT), 63) AS bucket,
         |              CAST(substr(conv_id,2) AS BIGINT) % 2 AS half FROM transcripts),
         |p AS (SELECT bucket, COUNT(*) AS pc FROM t2 WHERE half = 0 GROUP BY bucket),
         |q AS (SELECT bucket, COUNT(*) AS qc FROM t2 WHERE half = 1 GROUP BY bucket),
         |j AS (SELECT COALESCE(pc,0) AS pc, COALESCE(qc,0) AS qc
         |      FROM p FULL OUTER JOIN q USING (bucket)),
         |tot AS (SELECT (SELECT SUM(pc) FROM p) AS pt, (SELECT SUM(qc) FROM q) AS qt),
         |r AS (SELECT GREATEST(CAST(pc AS DOUBLE)/pt, 1e-9) AS pi,
         |             GREATEST(CAST(qc AS DOUBLE)/qt, 1e-9) AS qi FROM j, tot)
         |SELECT ROUND(SUM(pi*LN(pi/qi)), 6) AS kl,
         |       ROUND(SUM((pi-qi)*LN(pi/qi)), 6) AS psi FROM r""".stripMargin,

    "conv_structure" ->
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
         |FROM m GROUP BY conv_id""".stripMargin,

    "orders_ref_integrity" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS orphan_count FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)""".stripMargin,

    // NOT EXISTS + IS NOT NULL: NULL-FK-safe on both sides (NOT IN goes
    // UNKNOWN on NULLs and zeroes the edge if a PARENT key is NULL)
    "fk_integrity" ->
      """SELECT 'lineitem->part' AS edge, CAST(COUNT(*) AS BIGINT) AS orphans
        |FROM lineitem l WHERE l_partkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l.l_partkey)
        |UNION ALL
        |SELECT 'lineitem->supplier', CAST(COUNT(*) AS BIGINT)
        |FROM lineitem l WHERE l_suppkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l.l_suppkey)
        |UNION ALL
        |SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT)
        |FROM orders o WHERE o_custkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o.o_custkey)
        |UNION ALL
        |SELECT 'customer->nation', CAST(COUNT(*) AS BIGINT)
        |FROM customer c WHERE c_nationkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c.c_nationkey)
        |UNION ALL
        |SELECT 'nation->region', CAST(COUNT(*) AS BIGINT)
        |FROM nation n WHERE n_regionkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n.n_regionkey)""".stripMargin,

    // same replay as conv_structure over the events mapping; the
    // FLOOR(epoch) pin matters here — events carry sub-second ts
    // ties on (user_id, ts) are pre-resolved to the greatest event_id so
    // DuckDB's ASOF JOIN (which picks an arbitrary row among exact-ts
    // ties) matches the operator's deterministic seq tiebreak
    "asof_join" ->
      """WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
        |v AS (
        |  SELECT user_id, ts, event_id, value FROM (
        |    SELECT user_id, ts, event_id, value,
        |           ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |    FROM events WHERE event_type = 'view') WHERE rn = 1)
        |SELECT p.event_id, p.user_id, v.event_id AS asof_event_id,
        |       v.value AS asof_value,
        |       epoch_us(p.ts) - epoch_us(v.ts) AS lag_us
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin,

    "events_structure" ->
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
        |FROM m GROUP BY user_id""".stripMargin,

    // natural violations from the data distribution (no plants): the
    // enum excludes 'signup', value caps at 50, k caps at 79
    "events_props_violations" ->
      """SELECT user_id, event_id,
        |  '/' || user_id || '/' || event_id || '/event_type' AS pointer,
        |  'enum' AS "constraint", event_type AS actual
        |FROM events WHERE event_type NOT IN ('click', 'view', 'error', 'purchase')
        |UNION ALL
        |SELECT user_id, event_id, '/' || user_id || '/' || event_id || '/value',
        |  'maximum', CAST(value AS VARCHAR)
        |FROM events WHERE value > 50
        |UNION ALL
        |SELECT user_id, event_id, '/' || user_id || '/' || event_id || '/k',
        |  'maximum', CAST(CAST(json_extract_string(props, 'k') AS INT) AS VARCHAR)
        |FROM events WHERE CAST(json_extract_string(props, 'k') AS INT) > 79""".stripMargin,

    "v_multipleof" ->
      """SELECT l_orderkey, l_linenumber,
        |  '/' || CAST(l_orderkey AS VARCHAR) || '/' || CAST(l_linenumber AS VARCHAR) || '/l_discount' AS pointer,
        |  'multipleOf' AS "constraint",
        |  CAST(l_discount AS VARCHAR) AS actual
        |FROM lineitem
        |WHERE CAST(l_discount AS DECIMAL(38,12)) % 0.02 <> 0""".stripMargin,

    "v_lengths_types" ->
      s"""WITH $dCte
         |SELECT l_orderkey, l_linenumber, ${kPtr("code")} AS pointer, 'minLength' AS "constraint", code AS actual
         |FROM dirty WHERE length(code) < 4
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("code")}, 'maxLength', code
         |FROM dirty WHERE length(code) > 7
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("frac")}, 'type:integer', CAST(frac AS VARCHAR)
         |FROM dirty WHERE frac <> floor(frac)""".stripMargin,

    "v_formats" ->
      s"""WITH $dCte
         |SELECT l_orderkey, l_linenumber, ${kPtr("email")} AS pointer, 'format:email' AS "constraint", email AS actual
         |FROM dirty WHERE NOT regexp_matches(email, '^[^@\\s]+@[^@\\s]+\\.[^@\\s]+$$')
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("ip")}, 'format:ipv4', ip
         |FROM dirty WHERE NOT regexp_matches(ip, '^((25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\.){3}(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)$$')
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("url")}, 'format:uri', url
         |FROM dirty WHERE NOT regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*:')
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("dt_str")}, 'format:date-time', dt_str
         |FROM dirty WHERE TRY_CAST(dt_str AS TIMESTAMP) IS NULL
         |UNION ALL
         |-- hostname/ipv6 regexes use Java lookahead, unsupported by RE2:
         |-- oracle these from the planted branch rules instead
         |SELECT l_orderkey, l_linenumber, ${kPtr("host")}, 'format:hostname', host
         |FROM dirty WHERE l_orderkey % 23 = 9
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("ip6")}, 'format:ipv6', ip6
         |FROM dirty WHERE l_orderkey % 31 = 6
         |UNION ALL
         |-- format:regex — the two planted non-compiling branches
         |SELECT l_orderkey, l_linenumber, ${kPtr("rgx")}, 'format:regex', rgx
         |FROM dirty WHERE l_orderkey % 37 IN (8, 9)""".stripMargin,

    "v_combinators" ->
      s"""WITH $dCte
         |SELECT l_orderkey, l_linenumber, ${kPtr("onec")} AS pointer, 'oneOf' AS "constraint", onec AS actual
         |FROM dirty
         |WHERE (CASE WHEN regexp_matches(onec, '^ab') THEN 1 ELSE 0 END
         |     + CASE WHEN regexp_matches(onec, 'b') THEN 1 ELSE 0 END) <> 1
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("anyc")}, 'anyOf', anyc
         |FROM dirty WHERE NOT (regexp_matches(anyc, '^x') OR length(anyc) >= 5)
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("allc")}, 'allOf', allc
         |FROM dirty WHERE NOT (regexp_matches(allc, '^p') AND length(allc) <= 4)
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("notc")}, 'not', notc
         |FROM dirty WHERE notc = 'forbidden'""".stripMargin,

    // array/map branches are the planted ground truth; `actual` is the
    // to_json rendering of the branch literal
    "v_arrays" ->
      s"""WITH $dCte
         |SELECT l_orderkey, l_linenumber, ${kPtr("tags")} AS pointer, 'minItems' AS "constraint", '[]' AS actual
         |FROM dirty WHERE l_orderkey % 11 = 0
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("tags")}, 'maxItems', '["ok","fine","aa","bb","cc"]'
         |FROM dirty WHERE l_orderkey % 11 = 1
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("tags")}, 'uniqueItems', '["dup","dup"]'
         |FROM dirty WHERE l_orderkey % 11 = 2
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("tags")}, 'items', '["UPPER"]'
         |FROM dirty WHERE l_orderkey % 11 = 3
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("pair")}, 'items[0]', '["bad","val"]'
         |FROM dirty WHERE l_orderkey % 13 = 0
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("pair")}, 'items[1]', '["key","bad"]'
         |FROM dirty WHERE l_orderkey % 13 = 1
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("pair")}, 'additionalItems', '["key","val","extra"]'
         |FROM dirty WHERE l_orderkey % 13 = 2""".stripMargin,

    "v_maps" ->
      s"""WITH $dCte
         |SELECT l_orderkey, l_linenumber, ${kPtr("attrs")} AS pointer, 'minProperties' AS "constraint", '{}' AS actual
         |FROM dirty WHERE l_orderkey % 9 = 0
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("attrs")}, 'properties/kind', '{}'
         |FROM dirty WHERE l_orderkey % 9 = 0
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("attrs")}, 'properties/kind', '{"kind":"z"}'
         |FROM dirty WHERE l_orderkey % 9 = 1
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("attrs")}, 'patternProperties', '{"kind":"a","x_1":"oops"}'
         |FROM dirty WHERE l_orderkey % 9 = 2
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("attrs")}, 'additionalProperties', '{"kind":"a","zz":"waytoolong"}'
         |FROM dirty WHERE l_orderkey % 9 = 3
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("attrs")}, 'maxProperties', '{"kind":"a","p":"1","q":"2","r":"3"}'
         |FROM dirty WHERE l_orderkey % 9 = 4""".stripMargin,

    // struct branches are planted ground truth (same discipline as
    // v_maps); `actual` is the fixed to_json literal per branch
    "v_structs" ->
      s"""WITH $dCte
         |SELECT l_orderkey, l_linenumber, ${kPtr("meta")} AS pointer, 'minProperties' AS "constraint", '{}' AS actual
         |FROM dirty WHERE l_orderkey % 8 = 0
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("meta")}, 'properties/kind', '{}'
         |FROM dirty WHERE l_orderkey % 8 = 0
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("meta")}, 'properties/kind', '{"kind":"z"}'
         |FROM dirty WHERE l_orderkey % 8 = 1
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("meta")}, 'properties/note', '{"kind":"a","note":"waytoolong"}'
         |FROM dirty WHERE l_orderkey % 8 = 2
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("meta")}, 'patternProperties', '{"kind":"a","x_1":"oops"}'
         |FROM dirty WHERE l_orderkey % 8 = 3
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("meta")}, 'additionalProperties', '{"kind":"a","zz":"toolong"}'
         |FROM dirty WHERE l_orderkey % 8 = 4
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("meta")}, 'maxProperties', '{"kind":"a","note":"ok","x_1":"1","zz":"hm"}'
         |FROM dirty WHERE l_orderkey % 8 = 5""".stripMargin,

    "stats_quantiles" -> {
      val rows = quantileProbs.flatMap { p =>
        Seq(
          s"SELECT 'turn_idx' AS col_name, $p AS p, ROUND(quantile_cont(v1, $p), 6) AS exact_q, TRUE AS td_ok FROM vals",
          s"SELECT 'text_len', $p, ROUND(quantile_cont(v2, $p), 6), TRUE FROM vals")
      }
      s"""WITH $tCte,
         |vals AS (SELECT CAST(turn_idx AS DOUBLE) AS v1, CAST(length(text) AS DOUBLE) AS v2 FROM transcripts)
         |${rows.mkString("\nUNION ALL\n")}""".stripMargin
    },

    // exact all-pairs shingle-Jaccard ground truth (the LSH output must
    // EQUAL it: the corpus has no pairs near the 0.5 boundary)
    "minhash_pairs" ->
      s"""WITH $poolCte,
         |$shPairsCte
         |SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM pairs WHERE j >= 0.5""".stripMargin,

    // ground truth = exact Jaccard pairs (the proven minhash_pairs
    // oracle) filtered by full levenshtein; the operator's length-gap
    // prefilter and banded bail-out never change the kept set
    "neardup_edit_verify" ->
      s"""WITH $poolCte,
         |$shPairsCte
         |SELECT p.id_a, p.id_b,
         |       CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_dist
         |FROM pairs p
         |JOIN pool ta ON p.id_a = ta.doc_id
         |JOIN pool tb ON p.id_b = tb.doc_id
         |WHERE p.j >= 0.5 AND levenshtein(ta.text, tb.text) <= 8""".stripMargin,

    "neardup_components" ->
      s"""WITH RECURSIVE $poolCte,
         |$componentsCte
         |SELECT CAST(node AS BIGINT) AS doc_id, CAST(component AS BIGINT) AS component
         |FROM comp""".stripMargin,

    "neardup_components_alt" ->
      s"""WITH RECURSIVE $poolCte,
         |$componentsCte
         |SELECT CAST(node AS BIGINT) AS doc_id, CAST(component AS BIGINT) AS component
         |FROM comp""".stripMargin,

    "neardup_survivors" ->
      s"""WITH RECURSIVE $poolCte,
         |$componentsCte
         |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM pool
         |WHERE doc_id NOT IN (SELECT node FROM comp WHERE component < node)""".stripMargin,

    "neardup_survivors_quality" ->
      s"""WITH RECURSIVE $poolCte,
         |$componentsCte,
         |scored AS (SELECT c.node, c.component, length(p.text) AS score
         |           FROM comp c JOIN pool p ON c.node = p.doc_id),
         |keep AS (SELECT keep_id FROM (
         |  SELECT node AS keep_id,
         |         ROW_NUMBER() OVER (PARTITION BY component ORDER BY score DESC, node ASC) AS rn
         |  FROM scored) t WHERE rn = 1)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id FROM pool
         |WHERE doc_id NOT IN (SELECT node FROM comp WHERE node NOT IN (SELECT keep_id FROM keep))""".stripMargin,

    // membership bucket = low 60 bits of md5(key || salt) mod 1e6 — the
    // exact rule Sampling.bucketMd5 compiles (Spark: conv(hex,16,10);
    // DuckDB: '0x' || hex cast)
    "sample_docs" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
        |      % 1000000 < 200000""".stripMargin,

    "sample_stratified" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, lang FROM documents
        |WHERE CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'mix1'), 1, 15)) AS BIGINT)
        |      % 1000000
        |      < CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 250000 ELSE 50000 END""".stripMargin,

    // 2 copies of every row + a third for md5-bucket < 300000 (= 0.3)
    "upsample_docs" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(i AS BIGINT) AS copy_idx
        |FROM documents, UNNEST(range(0, 2 + CASE WHEN
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'up1'), 1, 15)) AS BIGINT)
        |    % 1000000 < 300000 THEN 1 ELSE 0 END)) AS t(i)""".stripMargin,

    "token_pairs" ->
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |p AS (SELECT list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS ps FROM toks),
        |u AS (SELECT unnest(ps) AS pair FROM p)
        |SELECT pair, CAST(COUNT(*) AS BIGINT) AS n FROM u
        |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin,

    // moment-identity replay in the same arithmetic shape (mean = s/n,
    // var = s2/n - mean*mean, z = (v-mean)/sd); IS NOT DISTINCT FROM
    // mirrors the operator's null-safe group join (a NULL event_type
    // is a group, not a dropped row)
    // replays the operator's two-pass centered variance (mean first,
    // then sum of squared deviations), the cancellation-safe shape
    "value_outliers" ->
      """WITH m AS (SELECT event_type, SUM(CAST(value AS DOUBLE)) / COUNT(value) AS mu,
        |                  CAST(COUNT(value) AS BIGINT) AS n
        |           FROM events GROUP BY event_type),
        |ss AS (SELECT e.event_type, mu, n,
        |              SUM((CAST(value AS DOUBLE) - mu) * (CAST(value AS DOUBLE) - mu)) AS ssq
        |       FROM events e JOIN m ON e.event_type IS NOT DISTINCT FROM m.event_type
        |       GROUP BY e.event_type, mu, n)
        |SELECT event_id, e.event_type, value,
        |  ROUND((CAST(value AS DOUBLE) - mu) / SQRT(ssq / n), 6) AS zscore
        |FROM events e JOIN ss ON e.event_type IS NOT DISTINCT FROM ss.event_type
        |WHERE SQRT(ssq / n) > 0 AND value IS NOT NULL
        |  AND ABS((CAST(value AS DOUBLE) - mu) / SQRT(ssq / n)) >= 3.0""".stripMargin,

    "event_rates" ->
      """SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |       ROUND(SUM(value), 6) AS sum_value
        |FROM events GROUP BY day, event_type""".stripMargin,

    // integer floor-division replay (// in DuckDB == div in Spark on
    // positive epochs); activity is distinct (user, period) so each
    // user is at most one row per (cohort, offset) and COUNT(*) is the
    // distinct-user count
    "retention_cohorts" ->
      """WITH per AS (SELECT user_id, epoch_us(ts) // 604800000000 AS period FROM events),
        |f AS (SELECT user_id, MIN(period) AS cohort FROM per GROUP BY user_id),
        |a AS (SELECT DISTINCT user_id, period FROM per),
        |j AS (SELECT f.cohort, a.period - f.cohort AS period_offset
        |      FROM a JOIN f USING (user_id))
        |SELECT cohort, period_offset, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM j WHERE period_offset >= 0 AND period_offset <= 12
        |GROUP BY cohort, period_offset""".stripMargin,

    // stagewise min-ts replay; >= keeps simultaneous next-stage events,
    // exact on microsecond timestamps
    "funnel_conversion" ->
      """WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
        |           WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts >= v.t1 GROUP BY e.user_id),
        |p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.t2 GROUP BY e.user_id)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_stage1,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_stage2,
        |       (SELECT CAST(COUNT(*) AS BIGINT) FROM p) AS n_stage3""".stripMargin,

    // bigram LM replay off the same per-doc pair aggregate; the
    // interpolation weights are written as the arithmetic Scala runs
    // ((1.0 - 0.8) is a different double than a literal 0.2)
    "bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |pr AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> {'l': t[i], 'r': t[i+1]})) AS s
        |       FROM toks),
        |g AS (SELECT doc_id, s.l AS l, s.r AS r, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM pr GROUP BY doc_id, s.l, s.r),
        |bi AS (SELECT l, r, CAST(SUM(c) AS BIGINT) AS cb FROM g GROUP BY l, r),
        |lt AS (SELECT l, CAST(SUM(cb) AS BIGINT) AS cl FROM bi GROUP BY l),
        |rt AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS cr FROM bi GROUP BY r),
        |tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tt FROM bi)
        |SELECT g.doc_id,
        |  ROUND(SUM(CAST(c AS DOUBLE) *
        |            LN(0.8 * (CAST(cb AS DOUBLE) / cl) + (1.0 - 0.8) * (CAST(cr AS DOUBLE) / tt)))
        |        / CAST(SUM(c) AS DOUBLE), 6) AS bigram_logprob
        |FROM g JOIN bi USING (l, r) JOIN lt USING (l) JOIN rt USING (r) CROSS JOIN tot
        |GROUP BY g.doc_id""".stripMargin,

    // chi-square over the FULL r x c cell grid (missing combos carry
    // their expected mass); term arithmetic mirrors the Spark side
    "chi2_source_lang" ->
      """WITH d AS (SELECT COALESCE(source, '<null>') AS src, COALESCE(lang, '<null>') AS lng
        |           FROM documents),
        |obs AS (SELECT src, lng, CAST(COUNT(*) AS BIGINT) AS o FROM d GROUP BY src, lng),
        |rt AS (SELECT src, CAST(SUM(o) AS BIGINT) AS rt FROM obs GROUP BY src),
        |ct AS (SELECT lng, CAST(SUM(o) AS BIGINT) AS ct FROM obs GROUP BY lng),
        |n AS (SELECT CAST(SUM(o) AS DOUBLE) AS nn FROM obs),
        |cells AS (SELECT rt.src, ct.lng, rt.rt, ct.ct, COALESCE(obs.o, 0) AS o
        |          FROM rt CROSS JOIN ct LEFT JOIN obs USING (src, lng)),
        |terms AS (SELECT (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / nn)
        |               * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / nn)
        |               / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE) / nn) AS term
        |          FROM cells CROSS JOIN n)
        |SELECT ROUND(SUM(term), 6) AS chi2,
        |       CAST(((SELECT COUNT(*) FROM rt) - 1) * ((SELECT COUNT(*) FROM ct) - 1) AS BIGINT) AS dof
        |FROM terms""".stripMargin,

    // GROUPING() carries the same bit encoding as Spark's grouping_id
    // (first listed column = MSB, 1 = rolled up)
    "stats_rollup" ->
      """SELECT source, lang, CAST(GROUPING(source, lang) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, ROUND(AVG(n_chars), 6) AS avg_chars
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin,

    // A-ES replay: same md5 uniform, same ln(u)/w key, same tie order
    "weighted_reservoir" ->
      """WITH h AS (SELECT doc_id, source, n_chars,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'wr1'), 1, 13)) AS BIGINT) AS hv
        |  FROM documents WHERE CAST(n_chars AS DOUBLE) > 0),
        |s AS (SELECT doc_id, source, n_chars,
        |        LN((CAST(hv AS DOUBLE) + 0.5) / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS sc
        |      FROM h),
        |r AS (SELECT doc_id, source, n_chars, ROW_NUMBER() OVER
        |        (PARTITION BY source ORDER BY sc DESC, CAST(doc_id AS VARCHAR) ASC) AS rn
        |      FROM s)
        |SELECT doc_id, source, n_chars FROM r WHERE rn <= 10""".stripMargin,

    // k-smallest-md5 membership replayed as a window; 13 hex chars = 52
    // bits, exact in the double the Spark side ranks on
    "reservoir_bygroup" ->
      """WITH h AS (SELECT doc_id, source,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'rs1'), 1, 13)) AS BIGINT) AS hv
        |  FROM documents),
        |r AS (SELECT doc_id, source, ROW_NUMBER() OVER
        |        (PARTITION BY source ORDER BY hv ASC, CAST(doc_id AS VARCHAR) ASC) AS rn
        |      FROM h)
        |SELECT doc_id, source FROM r WHERE rn <= 10""".stripMargin,

    // per-group top-k replayed as the window form the operator refuses
    // to run — same (tf desc, token asc) total order
    "vocab_bygroup" ->
      """WITH tok AS (
        |  SELECT source, unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |                                    t -> t <> '')) AS token
        |  FROM documents),
        |c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY source, token),
        |r AS (SELECT source, token, tf,
        |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY tf DESC, token ASC) AS rn
        |      FROM c)
        |SELECT source, CAST(rn - 1 AS BIGINT) AS rank, token, tf FROM r WHERE rn <= 10""".stripMargin,

    // q = c^a / sum c^a (the (c/T)^a normalizer cancels); arithmetic
    // order mirrors the Spark expression
    "temperature_mix" ->
      """WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_rows FROM documents GROUP BY source),
        |t AS (SELECT CAST(SUM(n_rows) AS DOUBLE) AS tt,
        |             SUM(POWER(CAST(n_rows AS DOUBLE), 0.3)) AS z FROM c)
        |SELECT source, n_rows, ROUND(n_rows / tt, 6) AS p,
        |  ROUND(POWER(CAST(n_rows AS DOUBLE), 0.3) / z, 6) AS q,
        |  ROUND(POWER(CAST(n_rows AS DOUBLE), 0.3) / z * tt / n_rows, 6) AS epochs
        |FROM c CROSS JOIN t""".stripMargin,

    // PMI replay: same unigram/bigram counts, same rounded-ln ranking;
    // the arithmetic shape (multiply-before-divide, left-assoc) mirrors
    // the Spark expression so the rounded doubles agree bit-for-bit
    "pmi_bigrams" ->
      """WITH toks AS (
        |  SELECT list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS t
        |  FROM documents),
        |u AS (SELECT unnest(t) AS tok FROM toks),
        |uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1 FROM u GROUP BY tok),
        |tot AS (SELECT CAST(SUM(c1) AS DOUBLE) AS tt FROM uni),
        |p AS (SELECT list_transform(range(1, len(t)), i -> {'l': t[i], 'r': t[i+1]}) AS ps FROM toks),
        |pe AS (SELECT unnest(ps) AS s FROM p),
        |bi AS (SELECT s.l AS l, s.r AS r, CAST(COUNT(*) AS BIGINT) AS n
        |       FROM pe GROUP BY s.l, s.r HAVING COUNT(*) >= 5)
        |SELECT bi.l, bi.r, bi.n,
        |  ROUND(LN(CAST(bi.n AS DOUBLE) * tot.tt /
        |           (CAST(ul.c1 AS DOUBLE) * CAST(ur.c1 AS DOUBLE))), 6) AS pmi
        |FROM bi JOIN uni ul ON bi.l = ul.tok JOIN uni ur ON bi.r = ur.tok CROSS JOIN tot
        |ORDER BY pmi DESC, l ASC, r ASC LIMIT 40""".stripMargin,

    // entropy replay in the SAME algebraic form (-sum(c*log2 c)/n +
    // log2 n) so both engines round the same double
    // nats summed, one /LN(2) at the end — mirrors the operator (and the
    // jsd precedent) so the gate never depends on a native log2 kernel
    "char_entropy" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
        |f AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM ch WHERE ch <> '' GROUP BY doc_id, ch)
        |SELECT doc_id, ROUND((-SUM(c * LN(c)) / SUM(c) + LN(SUM(c))) / LN(2), 6) AS char_entropy
        |FROM f GROUP BY doc_id""".stripMargin,

    // same per-term model as bm25_topk (df over the union term set),
    // fanned out by the VALUES query table; rank ties break by doc_id
    "bm25_multi" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(len(toks)) AS avgdl FROM base),
        |qt(query, t) AS (VALUES ('q_engine', 'spark'), ('q_engine', 'join'),
        |                        ('q_stream', 'stream'), ('q_stream', 'window'),
        |                        ('q_data', 'vector'), ('q_data', 'data')),
        |tf AS (
        |  SELECT doc_id, dl, t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS t FROM base)
        |  WHERE t IN ('spark', 'join', 'stream', 'window', 'vector', 'data')
        |  GROUP BY doc_id, dl, t),
        |dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
        |sc AS (SELECT query, doc_id,
        |         SUM(LN(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0) /
        |             (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))) AS s
        |       FROM tf JOIN dfreq USING (t) JOIN qt USING (t) CROSS JOIN stats
        |       GROUP BY query, doc_id),
        |-- rank by the ROUNDED score like the operator (true ties break
        |-- by doc_id in both engines)
        |r AS (SELECT query, doc_id, ROUND(s, 6) AS sr,
        |        ROW_NUMBER() OVER (PARTITION BY query ORDER BY ROUND(s, 6) DESC, doc_id ASC) AS rn
        |      FROM sc)
        |SELECT query, CAST(rn - 1 AS BIGINT) AS rank, doc_id, sr AS bm25
        |FROM r WHERE rn <= 10""".stripMargin,

    // BM25 replay; constants written as the same arithmetic Scala runs
    // ((1.2 + 1.0), (1.0 - 0.75)) — a literal 2.2 is a DIFFERENT double
    // than 1.2 + 1.0 and would diverge in the 6th decimal on ties
    "bm25_topk" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '') AS toks
        |  FROM documents),
        |stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(len(toks)) AS avgdl FROM base),
        |tf AS (
        |  SELECT doc_id, dl, t, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        |    SELECT doc_id, len(toks) AS dl, unnest(toks) AS t FROM base)
        |  WHERE t IN ('spark', 'join', 'window', 'vector')
        |  GROUP BY doc_id, dl, t),
        |dfreq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t)
        |SELECT doc_id,
        |  ROUND(SUM(LN(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0) /
        |        (tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))), 6) AS bm25
        |FROM tf JOIN dfreq USING (t) CROSS JOIN stats
        |GROUP BY doc_id ORDER BY bm25 DESC, doc_id ASC LIMIT 40""".stripMargin,

    // per-stratum weight -> floor copies + md5-fraction extra copy
    "mix_weights" ->
      """WITH w AS (SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 1 ELSE 0 END AS whole,
        |    CASE lang WHEN 'en' THEN 500000 WHEN 'zh' THEN 250000 ELSE 50000 END AS fb,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'mw1'), 1, 15)) AS BIGINT)
        |      % 1000000 AS bucket
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id, lang, CAST(i AS BIGINT) AS copy_idx
        |FROM w, UNNEST(range(0, whole + CASE WHEN bucket < fb THEN 1 ELSE 0 END)) AS t(i)""".stripMargin,

    // consecutive bucket ranges: train [0, 950000), val [950000, 980000),
    // test [980000, 1000000)
    "split_assign" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CASE WHEN b < 950000 THEN 'train' WHEN b < 980000 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'sp1'), 1, 15)) AS BIGINT)
        |    % 1000000 AS b FROM documents)""".stripMargin,

    // shard = 60-bit md5 value mod 8; shard_pos = rank within shard
    // under the (hash, key) total order
    "shard_assign" ->
      """WITH h AS (SELECT doc_id,
        |    CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'sh1'), 1, 15)) AS BIGINT) AS h60
        |  FROM documents)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |       h60 % 8 AS shard,
        |       CAST(ROW_NUMBER() OVER (PARTITION BY h60 % 8 ORDER BY h60, doc_id) AS BIGINT) - 1 AS shard_pos
        |FROM h""".stripMargin,

    "text_repetition" ->
      """WITH sh AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 1),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents)),
        |rep AS (SELECT doc_id,
        |    ROUND(1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) / len(sh), 6) AS dup_3gram_ratio
        |  FROM sh),
        |cnt AS (SELECT doc_id, t, count(*) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM sh)
        |  WHERE t <> '' GROUP BY doc_id, t),
        |top AS (SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_token_share
        |  FROM cnt GROUP BY doc_id)
        |SELECT rep.doc_id, dup_3gram_ratio, top_token_share
        |FROM rep JOIN top USING (doc_id)""".stripMargin,

    "pii_redact" ->
      """SELECT doc_id, md5(
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(
        |        text || ' contact user' || doc_id || '@example.com or 555-123-45' || doc_id || ' ssn 123-45-6789',
        |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<ID>', 'g'),
        |    '\+?[0-9][0-9() .-]{7,}[0-9]', '<PHONE>', 'g')) AS redacted_md5
        |FROM documents""".stripMargin,

    "vocab_topk" ->
      """WITH tok AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> '')
        |SELECT token, CAST(COUNT(*) AS BIGINT) AS tf,
        |       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |FROM tok GROUP BY token
        |ORDER BY tf DESC, token ASC
        |LIMIT 100""".stripMargin,

    "tfidf_topvocab" ->
      """WITH tok AS (
        |  SELECT doc_id, token FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
        |    FROM documents) WHERE token <> ''),
        |v AS (
        |  SELECT token, COUNT(*) AS tf_all, COUNT(DISTINCT doc_id) AS dfreq
        |  FROM tok GROUP BY token ORDER BY tf_all DESC, token ASC LIMIT 20),
        |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, token)
        |SELECT tf.doc_id, tf.token,
        |  ROUND(tf.tf * ln(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE) / dfreq), 6) AS weight
        |FROM tf JOIN v USING (token)""".stripMargin,

    "quality_filter" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE CAST(n_chars AS DOUBLE) >=
        |  (SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.5) FROM documents)""".stripMargin,

    // the window runs over DISTINCT (source, n_chars) — the oracle
    // mirrors that and joins back, like the operator
    "cdf_bygroup" ->
      """WITH vc AS (SELECT source AS g, n_chars AS v, CAST(COUNT(*) AS BIGINT) AS c
        |            FROM documents WHERE source IS NOT NULL AND n_chars IS NOT NULL
        |            GROUP BY source, n_chars),
        |cum AS (SELECT g, v, CAST(SUM(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) - c AS below
        |        FROM vc),
        |tot AS (SELECT g, CAST(SUM(c) AS BIGINT) AS n FROM vc GROUP BY g)
        |SELECT d.doc_id, d.source, d.n_chars,
        |       ROUND(CAST(below AS DOUBLE) / n, 6) AS cdf
        |FROM documents d
        |JOIN cum ON d.source = cum.g AND d.n_chars = cum.v
        |JOIN tot ON cum.g = tot.g""".stripMargin,

    "quality_filter_bygroup" ->
      """WITH thr AS (
        |  SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS t
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN thr ON d.source IS NOT DISTINCT FROM thr.source
        |WHERE CAST(d.n_chars AS DOUBLE) >= t""".stripMargin,

    "pipeline_endtoend" ->
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
        |FROM cum""".stripMargin,

    "pack_chunks" ->
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
        |FROM cum""".stripMargin,

    "contamination" ->
      """WITH sh8 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 6),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |                     || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]) END AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents)),
        |bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh8 WHERE doc_id % 13 = 1),
        |dg AS (SELECT doc_id, unnest(sh) AS g FROM sh8)
        |SELECT dg.doc_id, CAST(COUNT(DISTINCT dg.g) AS BIGINT) AS n_hits
        |FROM dg JOIN bg ON dg.g = bg.g
        |GROUP BY dg.doc_id""".stripMargin,

    // Bloom only prunes; the exact join restores — identical ground truth
    "contamination_bloom" ->
      """WITH sh8 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, len(toks) - 6),
        |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
        |                     || ' ' || toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]) END AS sh
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks FROM documents)),
        |bg AS (SELECT DISTINCT unnest(sh) AS g FROM sh8 WHERE doc_id % 13 = 1),
        |dg AS (SELECT doc_id, unnest(sh) AS g FROM sh8)
        |SELECT dg.doc_id, CAST(COUNT(DISTINCT dg.g) AS BIGINT) AS n_hits
        |FROM dg JOIN bg ON dg.g = bg.g
        |GROUP BY dg.doc_id""".stripMargin,

    "simhash_dup_pairs" ->
      s"""WITH $poolCte
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(0 AS BIGINT) AS hamming
         |FROM pool a JOIN pool b ON a.text = b.text AND a.doc_id < b.doc_id""".stripMargin,

    "dedup_exact" ->
      s"""WITH $poolCte
         |SELECT md5(text) AS content_hash, CAST(COUNT(*) AS BIGINT) AS dup_count,
         |       CAST(MIN(doc_id) AS BIGINT) AS keep_id
         |FROM pool GROUP BY md5(text) HAVING COUNT(*) > 1""".stripMargin,

    "dedup_survivors" ->
      s"""WITH $poolCte
         |SELECT md5(text) AS content_hash, CAST(MIN(doc_id) AS BIGINT) AS keep_id
         |FROM pool GROUP BY md5(text)""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        |CAST(CASE WHEN trim(text) = '' THEN 0
        |     ELSE length(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens,
        |CAST(length(text) AS BIGINT) AS n_chars
        |FROM documents""".stripMargin,

    "text_quality" -> {
      val len = "GREATEST(length(text),1)"
      val alpha = s"CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)/$len"
      val digit = s"CAST(length(regexp_replace(text,'[^0-9]','','g')) AS DOUBLE)/$len"
      val space = s"CAST(length(regexp_replace(text,'[^ \\t\\n]','','g')) AS DOUBLE)/$len"
      val padded = "' ' || lower(text) || ' '"
      def occ(m: String) = s"CAST((length($padded) - length(replace($padded,'$m','')))/${m.length} AS INT)"
      val hits = s"(${occ(" the ")} + ${occ(" a ")} + ${occ(" and ")} + ${occ(" of ")})"
      val toks = "GREATEST(CASE WHEN trim(text)='' THEN 0 ELSE length(regexp_split_to_array(trim(text),'\\s+')) END, 1)"
      val stop = s"LEAST(CAST($hits AS DOUBLE)/$toks*5.0, 1.0)"
      s"""SELECT doc_id,
         |ROUND($alpha, 6) AS alpha_ratio,
         |ROUND($digit, 6) AS digit_ratio,
         |ROUND($space, 6) AS space_ratio,
         |ROUND($stop, 6) AS stop_density,
         |ROUND(($alpha)*0.5 + (1.0-($digit))*0.2 + ($stop)*0.3, 6) AS quality_score
         |FROM documents""".stripMargin
    },

    "lang_id" -> {
      val padded = "' ' || lower(text) || ' '"
      def occ(m: String) = s"CAST((length($padded) - length(replace($padded,'$m','')))/${m.length} AS INT)"
      def fam(ms: Seq[String]) = ms.map(occ).mkString("(", " + ", ")")
      val families = TextOps.langMarkers.map { case (l, ms) => l -> fam(ms) }
      val scores = families.map { case (l, e) => s"CAST($e AS BIGINT) AS score_$l" }.mkString(", ")
      val best = families.map(_._2).mkString("GREATEST(", ", ", ")")
      val cases = families.map { case (l, e) => s"WHEN $e = $best AND $best > 0 THEN '$l'" }.mkString(" ")
      s"""SELECT doc_id, $scores,
         |CASE $cases ELSE 'unknown' END AS predicted,
         |lang AS label
         |FROM documents""".stripMargin
    },

    "doc_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp FROM documents""",

    "multimodal_features" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CAST(CASE WHEN length(text) = 0 THEN -1 ELSE ascii(text) END AS BIGINT) AS head_byte
        |FROM documents""".stripMargin,

    "multimodal_frames" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |CAST(CASE WHEN octet_length(encode(text)) = 0 THEN 0
        |     ELSE CAST(ceil(octet_length(encode(text)) / 512.0) AS BIGINT) END AS BIGINT) AS n_frames,
        |-- corpus is ASCII (verified: octet_length == length for every
        |-- doc), so the first 256 chars ARE the first 256 bytes
        |CASE WHEN octet_length(encode(text)) = 0 THEN NULL
        |     ELSE md5(substring(text, 1, 256)) END AS first_frame_md5
        |FROM documents""".stripMargin,

    // first-occurrence order replayed via ROW_NUMBER over position
    // (DuckDB's list_distinct does not document order preservation)
    "dedup_lines_withindoc" ->
      """WITH staged AS (
        |  -- COALESCE mirrors the Spark side's null-skipping concat_ws, so a
        |  -- null text row stages to the same string in both engines
        |  SELECT doc_id, COALESCE(text, '') || chr(10) || 'dup ' || CAST(doc_id % 3 AS VARCHAR)
        |         || chr(10) || 'dup ' || CAST(doc_id % 3 AS VARCHAR) || chr(10) || COALESCE(text, '') AS text
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id, struct_extract(s, 'pos') AS pos, struct_extract(s, 'line') AS line
        |  FROM (SELECT doc_id, unnest(list_transform(string_split(text, chr(10)),
        |          (x, i) -> {'pos': i, 'line': x})) AS s FROM staged)),
        |firsts AS (
        |  SELECT doc_id, pos, line,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id, line ORDER BY pos) AS rn
        |  FROM ln)
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |FROM firsts WHERE rn = 1 GROUP BY doc_id""".stripMargin,

    "dup_spans" ->
      s"WITH ${spanCte(8)}\nSELECT gram, n_docs FROM hot",

    "dup_span_removal" ->
      (s"WITH ${spanCte(8)},\n" +
        """tok AS (
          |  SELECT doc_id, struct_extract(s, 'pos') AS pos, struct_extract(s, 'tok') AS tok
          |  FROM (SELECT doc_id, unnest(list_transform(ts, (x, k) -> {'pos': k - 1, 'tok': x})) AS s
          |        FROM tt)),
          |covered AS MATERIALIZED (
          |  SELECT DISTINCT g.doc_id, g.start + r.d AS pos
          |  FROM g JOIN hot USING (gram) CROSS JOIN (SELECT unnest(range(8)) AS d) r),
          |kept AS (
          |  SELECT t.doc_id, t.pos, t.tok FROM tok t
          |  ANTI JOIN covered c ON (t.doc_id = c.doc_id AND t.pos = c.pos))
          |SELECT d.doc_id, COALESCE(k.text, '') AS text
          |FROM documents d LEFT JOIN (
          |  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS text
          |  FROM kept GROUP BY doc_id) k USING (doc_id)""".stripMargin),

    "lm_logprob" ->
      s"WITH $lmScoredCte\nSELECT doc_id, lm_logprob FROM scored",

    // terciles over the ROUNDED score (byte-equal across engines per
    // the lm_logprob gate), so quantile_cont interpolation and the >=
    // boundary comparisons are float-exact on both sides; fraction
    // literals are the exact doubles scala's 1.0/3 and 2.0/3 print as
    "lm_buckets" ->
      (s"WITH $lmScoredCte,\n" +
        """thr AS (SELECT quantile_cont(lm_logprob, 0.3333333333333333) AS t1,
          |               quantile_cont(lm_logprob, 0.6666666666666666) AS t2 FROM scored)
          |SELECT doc_id, lm_logprob,
          |  CASE WHEN lm_logprob >= t2 THEN 'head'
          |       WHEN lm_logprob >= t1 THEN 'middle'
          |       ELSE 'tail' END AS bucket
          |FROM scored, thr""".stripMargin),

    "domain_cap" ->
      """SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS score, CAST(rn AS BIGINT) AS rank
        |FROM (SELECT source, doc_id, n_chars,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY CAST(n_chars AS DOUBLE) DESC, doc_id ASC) AS rn
        |      FROM documents)
        |WHERE rn <= 10""".stripMargin,

    // stage-by-stage replay of the merge cascade; every CTE is
    // MATERIALIZED (DuckDB re-inlines plain CTEs per reference — c_i is
    // referenced twice per stage, which would re-evaluate the whole
    // prefix exponentially). The indexed lambda is 1-based, so ts[k+1]
    // is the right neighbor of slice element k
    "bpe_merges" -> bpeMergesOracle(8),

    // independent replay of the greedy BATCH rule — NOT the sequential
    // cascade (batched order diverges from sequential on chains, by
    // design and documented)
    "bpe_merges_batched" -> bpeMergesBatchedOracle(8, 4),

    // the exact driver-side trainer must match the SEQUENTIAL cascade
    // bit-for-bit — same oracle as bpe_merges
    "bpe_merges_local" -> bpeMergesOracle(8),

    "bpe_encode" -> bpeEncodeOracle(8),

    // replays the line census + removal + ordered reassembly; DuckDB's
    // indexed lambda is 1-based vs posexplode's 0-based, but pos only
    // ORDERS the reassembly, it is never emitted
    "boilerplate_removal" ->
      """WITH staged AS (
        |  -- COALESCE mirrors the Spark side's null-skipping concat_ws, so a
        |  -- null text row stages to the same string in both engines
        |  SELECT doc_id, '=== COMMON HEADER ===' || chr(10) || COALESCE(text, '') || chr(10)
        |         || 'footer ' || CAST(doc_id % 7 AS VARCHAR) AS text
        |  FROM documents),
        |ln AS (
        |  SELECT doc_id, struct_extract(s, 'pos') AS pos, struct_extract(s, 'line') AS line
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(string_split(text, chr(10)),
        |            (x, i) -> {'pos': i, 'line': x})) AS s
        |        FROM staged)),
        |hot AS (
        |  SELECT line FROM (SELECT line, COUNT(DISTINCT doc_id) AS n FROM ln GROUP BY line)
        |  WHERE n >= 25),
        |kept AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        |  FROM ln WHERE line NOT IN (SELECT line FROM hot) GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(k.text, '') AS text
        |FROM staged d LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // replays the PNG plant rule arithmetically (no image library):
    // doc_ids are nonnegative so DuckDB's % == the Spark side's floorMod
    "multimodal_decode" ->
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
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    // replays the WAV plant rule arithmetically (no audio library):
    // doc_ids are nonnegative so DuckDB's % == the Spark side's floorMod
    "multimodal_audio" ->
      """SELECT d.doc_id,
        |CAST(16 + (d.doc_id % 32) AS BIGINT) AS n_frames,
        |1 + (d.doc_id % 2) AS channels,
        |CAST(8000 AS BIGINT) AS sample_rate,
        |CAST(SUM((37*d.doc_id + 257*gt.t + 101*gc.c) % 65536 - 32768) AS BIGINT) AS amplitude_sum
        |FROM documents d
        |CROSS JOIN generate_series(0, 47) gt(t)
        |CROSS JOIN generate_series(0, 1) gc(c)
        |WHERE gt.t < 16 + (d.doc_id % 32) AND gc.c < 1 + (d.doc_id % 2)
        |GROUP BY 1, 2, 3, 4""".stripMargin,

    "text_subwords" ->
      """SELECT doc_id,
        |CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+')) AS BIGINT) AS n_subwords
        |FROM documents""".stripMargin,

    "ngram_jaccard" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 11 = 5),
        |t AS (SELECT doc_id,
        |  regexp_split_to_array(trim(lower(text)), '\s+') AS ta,
        |  regexp_split_to_array(trim(lower(text || ' qq zz')), '\s+') AS tb FROM base),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(ta) < 3 THEN [array_to_string(ta, ' ')]
        |       ELSE list_transform(range(1, len(ta) - 1), i -> ta[i] || ' ' || ta[i+1] || ' ' || ta[i+2]) END AS sa,
        |  CASE WHEN len(tb) < 3 THEN [array_to_string(tb, ' ')]
        |       ELSE list_transform(range(1, len(tb) - 1), i -> tb[i] || ' ' || tb[i+1] || ' ' || tb[i+2]) END AS sb
        |  FROM t)
        |SELECT doc_id, ROUND(
        |  CAST(len(list_intersect(list_distinct(sa), list_distinct(sb))) AS DOUBLE)
        |    / len(list_distinct(list_concat(sa, sb))), 6) AS jaccard
        |FROM sh""".stripMargin,

    // corpus is ASCII so ascii(char) == utf-8 byte; fold replays the
    // byte-level polynomial mod 1e9+7 exactly
    "doc_rolling_hash" ->
      """SELECT doc_id, CAST(list_reduce(
        |  list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, length(text) + 1), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
        |  (h, c) -> (h * 31 + c) % 1000000007) AS BIGINT) AS rh
        |FROM documents""".stripMargin,

    // corpus is ASCII (verified: octet_length == length for every doc),
    // so char indexing replays the Spark side's byte indexing exactly
    "multimodal_resample" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |CASE WHEN octet_length(encode(text)) = 0 THEN NULL ELSE md5(array_to_string(
        |  list_transform(range(0, 64), i -> substr(text, CAST((i * length(text)) // 64 AS INT) + 1, 1)), ''))
        |END AS resampled_md5
        |FROM documents""".stripMargin,

    "ann_cosine_topk" ->
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
        |SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 10""".stripMargin,

    "embed_norms" ->
      """SELECT vec_id, CAST(label AS BIGINT) AS label,
        |ROUND(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))), 6) AS l2
        |FROM embeddings""".stripMargin,

    // the SRP gate replays the exact all-pairs ground truth over the
    // planted pool; the Spark side must match it exactly (banding is
    // only allowed to cost time, never pairs)
    "embed_neardup_srp" ->
      s"""WITH $embPoolCte,
         |v AS (SELECT vec_id, embedding,
         |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
         |  FROM epool)
         |SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))/(a.nrm*b.nrm) AS cos
         |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
         |WHERE cos >= 0.95""".stripMargin,

    // full end-to-end replay of the md5-bit simhash: token split,
    // hex-parsed 64 bit sources, per-bit vote sums, signature assembly,
    // and all-pairs hamming <= 3 (which the 4-band join provably equals)
    "simhash_near_pairs" -> {
      val voteCols = (0 until 64).map { i =>
        val src = if (i < 60) s"(h60 >> $i)" else s"(h4 >> ${i - 60})"
        s"SUM(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS v$i"
      }.mkString(",\n|    ")
      val sigExpr = ((0 until 63).map(i => s"CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END") :+
        "CASE WHEN v63 > 0 THEN (-9223372036854775807 - 1) ELSE 0 END").mkString(" + ")
      s"""WITH $simhashPoolCte,
         |toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t FROM spool),
         |hx AS (SELECT doc_id, md5(t) AS m FROM toks),
         |hv AS (SELECT doc_id,
         |    list_reduce(list_transform(range(1, 16),
         |      i -> CAST(strpos('0123456789abcdef', substr(m, CAST(i AS INT), 1)) - 1 AS BIGINT)),
         |      (a, b) -> a * 16 + b) AS h60,
         |    CAST(strpos('0123456789abcdef', substr(m, 16, 1)) - 1 AS BIGINT) AS h4
         |  FROM hx),
         |votes AS (SELECT doc_id,
         |    $voteCols
         |  FROM hv GROUP BY doc_id),
         |sig AS (SELECT doc_id, $sigExpr AS s FROM votes)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       CAST(bit_count(xor(a.s, b.s)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.s, b.s)) <= 3""".stripMargin
    },

    // dedup-first composition: identical ground truth to minhash_pairs
    "minhash_pairs_dedup" ->
      s"""WITH $poolCte,
         |$shPairsCte
         |SELECT id_a, id_b, ROUND(j, 6) AS jaccard FROM pairs WHERE j >= 0.5""".stripMargin,

    "v_array_oneof" ->
      s"""WITH $dCte
         |SELECT l_orderkey, l_linenumber, ${kPtr("mix")} AS pointer, 'items' AS "constraint", '["zz","x9"]' AS actual
         |FROM dirty WHERE l_orderkey % 27 = 0
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("mix")}, 'items', '["n9"]'
         |FROM dirty WHERE l_orderkey % 27 = 1""".stripMargin,

    "embed_neardup_pairs" ->
      """WITH v AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT id_a, id_b, ROUND(cos, 6) AS cos FROM (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(list_zip(a.embedding, b.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))/(a.nrm*b.nrm) AS cos
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |WHERE cos >= 0.42""".stripMargin,

    // IVF replay: same centroid rule, assignment argmin (rounded 9dp,
    // centroid-id tiebreak), nprobe=2 probing, rank by (sim desc, id)
    "ivf_topk" ->
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
        |SELECT query_id, cand_id, sim, CAST(rank AS BIGINT) AS rank FROM ranked WHERE rank <= 10""".stripMargin,

    // quantization gate: every vector must satisfy the constructive
    // scale/2 round-trip bound; expected counts from the table itself
    "embed_quantize" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
        |       CAST(COUNT(*) AS BIGINT) AS within_bound
        |FROM embeddings""".stripMargin,

    // trained-IVF gate: DuckDB cannot replay the float k-means means,
    // but it CAN derive the demanded answer from the plant rule — the
    // engine must find EVERY planted near-copy's base at rank 1
    // through the trained index, so both counts equal the plant count
    "ivf_trained_recall" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       CAST(COUNT(*) AS BIGINT) AS found_at_1
        |FROM embeddings WHERE vec_id % 11 = 5""".stripMargin
  )
}
