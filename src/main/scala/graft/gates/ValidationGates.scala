package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.exprs.Validator
import graft.integrity.Integrity
import graft.sources.{DirtyDerive, TranscriptDerive}
import Inputs._

/** Validation and integrity gates: the compiled validator over the
  * derived transcripts, the events table and the dirty keyword fixture,
  * key, referential and functional-dependency checks, and the JSONL
  * source round-trip.
  */
object ValidationGates {

  private def dirtyViolations(s: SparkSession, dir: String, schemaJson: String,
                              balance: Boolean = false): DataFrame =
    Validator.violations(DirtyDerive.fromLineitem(s, dir, balance), compileSchema(schemaJson),
      Seq("l_orderkey", "l_linenumber"))

  private val dirtyKeyProps =
    """"l_orderkey": {"type": "integer"}, "l_linenumber": {"type": "integer"}"""

  private val violations =
    Gate("v_violations", (s, dir) =>
      Validator.violations(TranscriptDerive.fromLineitem(s, dir), schema, Seq("conv_id", "turn_idx")),
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
         |FROM transcripts WHERE tool IS NOT NULL AND role IS NULL""".stripMargin)

  private val duplicates =
    Gate("uniq_duplicates", (s, dir) =>
      Integrity.duplicateKeys(TranscriptDerive.fromLineitem(s, dir), Seq("conv_id", "turn_idx")),
      s"""WITH $tCte
         |SELECT conv_id, turn_idx, CAST(COUNT(*) AS BIGINT) AS dup_count
         |FROM transcripts WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
         |GROUP BY conv_id, turn_idx HAVING COUNT(*) > 1""".stripMargin)

  private val orphans =
    Gate("ref_orphans", (s, dir) =>
      Integrity.referentialViolations(TranscriptDerive.fromLineitem(s, dir)),
      s"""WITH $tCte
         |SELECT conv_id, turn_idx, ${ptrSql("conv_id")} AS pointer, 'ref' AS "constraint", conv_id AS actual
         |FROM transcripts
         |WHERE conv_id NOT IN (SELECT conv_id FROM transcripts WHERE turn_idx = 0 AND conv_id IS NOT NULL)""".stripMargin)

  // turn-index contiguity: conversations whose indices are not exactly
  // 0..n-1 (gaps, duplicates, missing root) — natural violations from
  // the dirty fixture's planted duplicate keys
  private val contiguity =
    Gate("turn_contiguity", (s, dir) =>
      Integrity.turnContiguity(TranscriptDerive.fromLineitem(s, dir)),
      // same three-valued HAVING as the operator's filter (the
      // n_distinct = n conjunct is plainly false for null-bearing convs,
      // so they flag in both engines)
      s"""WITH $tCte
         |SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
         |       CAST(MIN(turn_idx) AS BIGINT) AS min_idx,
         |       CAST(MAX(turn_idx) AS BIGINT) AS max_idx,
         |       CAST(COUNT(DISTINCT turn_idx) AS BIGINT) AS n_distinct
         |FROM transcripts GROUP BY conv_id
         |HAVING NOT (MIN(turn_idx) = 0 AND MAX(turn_idx) = COUNT(*) - 1
         |            AND COUNT(DISTINCT turn_idx) = COUNT(*))""".stripMargin)

  val all: Seq[Gate] = Seq(
    violations, duplicates, orphans, contiguity,

    // capstone: the whole validation path in ONE summary row — fused
    // validator violations, duplicate keys, referential orphans, and
    // contiguity breaks (each count reuses the gated production query,
    // and the oracle nests their four oracles as COUNT subqueries, so it
    // can never drift from them). The violations leg uses the zero-emission TOTAL form
    // (Validator.violationTotal): a count never needs the emission
    // path's Generate fan-out or pointer/JSON string building — at
    // 10^12 rows that is the difference between a pure scan-aggregate
    // and paying the emission tax once per violating row only to
    // discard it. The total equals count(*) over emitted rows (each
    // emitted row is exactly one failing check), so the oracle is
    // unchanged.
    Gate("validation_report", (s, dir) => {
      def n(gate: Gate, as: String) =
        gate.run(s, dir).agg(count(lit(1)).as(as))
      Validator.violationTotal(TranscriptDerive.fromLineitem(s, dir), schema)
        .crossJoin(n(duplicates, "n_dup_keys"))
        .crossJoin(n(orphans, "n_orphans"))
        .crossJoin(n(contiguity, "n_noncontiguous"))
    },
      s"""SELECT
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (${violations.oracle}) a) AS n_violations,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (${duplicates.oracle}) b) AS n_dup_keys,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (${orphans.oracle}) c) AS n_orphans,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM (${contiguity.oracle}) d) AS n_noncontiguous""".stripMargin),

    // functional-dependency profile over the documents table: sources
    // mapping to more than one language
    Gate("fd_source_lang", (s, dir) =>
      Integrity.functionalDependencyViolations(docs(s, dir), "source", "lang"),
      """SELECT source, CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_dep,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM documents GROUP BY source HAVING COUNT(DISTINCT lang) > 1""".stripMargin),

    // JSONL source round-trip with corrupt-record quarantine: the
    // transcripts serialize to JSON lines (pinned micros timestamp
    // format), two deterministic corruption rules mangle a slice
    // (okey%89=3 -> structurally invalid; else okey%97=41 -> turn_idx
    // bound to a string), and JsonlTranscripts.parse reads everything
    // back — clean rows must round-trip value-exactly, invalid lines
    // must quarantine as all-null+corrupt, type-mangled lines keep the
    // fields parsed before the failure (conv_id) and null the rest
    Gate("jsonl_roundtrip", (s, dir) => {
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
    },
      // replays the corruption rules over the identical base table:
      // invalid lines surface as all-null+corrupt, type-mangled lines
      // keep conv_id (parsed before the binding failure) and null the
      // rest, everything else round-trips untouched
      s"""WITH $tCte,
         |th AS (SELECT *, CAST(substr(conv_id,2) AS BIGINT) AS okey FROM transcripts)
         |SELECT CASE WHEN okey % 89 = 3 THEN NULL ELSE conv_id END AS conv_id,
         |  CASE WHEN okey % 89 = 3 OR okey % 97 = 41 THEN NULL ELSE turn_idx END AS turn_idx,
         |  CASE WHEN okey % 89 = 3 OR okey % 97 = 41 THEN NULL ELSE role END AS role,
         |  CASE WHEN okey % 89 = 3 OR okey % 97 = 41 THEN NULL ELSE text END AS text,
         |  CASE WHEN okey % 89 = 3 OR okey % 97 = 41 THEN NULL ELSE tool END AS tool,
         |  CASE WHEN okey % 89 = 3 OR okey % 97 = 41 THEN NULL ELSE epoch_us(ts) END AS ts_us,
         |  okey % 89 = 3 OR okey % 97 = 41 AS corrupt
         |FROM th""".stripMargin),

    // multi-edge referential integrity over the full TPC-H-ish star:
    // each FK edge is one anti-join (broadcast for the small parents),
    // counts unioned into one report — the shape of a whole-warehouse
    // integrity sweep
    Gate("fk_integrity", (s, dir) => {
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
    },
      // NOT EXISTS + IS NOT NULL: NULL-FK-safe on both sides (NOT IN goes
      // UNKNOWN on NULLs and zeroes the edge if a PARENT key is NULL)
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
        |FROM nation n WHERE n_regionkey IS NOT NULL AND NOT EXISTS (SELECT 1 FROM region WHERE r_regionkey = n.n_regionkey)""".stripMargin),

    // the validator over the events table with its JSON-string payload
    // parsed into columns: natural (not planted) violations — 'signup'
    // excluded from the enum, value capped at 50, k capped at 79
    Gate("events_props_violations", (s, dir) => {
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
    },
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
        |FROM events WHERE CAST(json_extract_string(props, 'k') AS INT) > 79""".stripMargin),

    // operational rollup: violation counts by constraint and column
    // counting needs no emission: one conditional sum per check in a
    // single scan (round 4 — was emit-all-rows + groupBy, 3.5 s -> sub-s)
    Gate("v_violation_counts", (s, dir) =>
      Validator.violationCounts(TranscriptDerive.fromLineitem(s, dir), schema),
      s"""WITH $tCte,
         |vios AS (
         |SELECT 'required' AS "constraint", 'role' AS "column" FROM transcripts WHERE role IS NULL
         |UNION ALL SELECT 'enum', 'role' FROM transcripts WHERE role IS NOT NULL AND role NOT IN ('system','user','assistant','tool')
         |UNION ALL SELECT 'pattern', 'conv_id' FROM transcripts WHERE NOT regexp_matches(conv_id, '^c[0-9]+$$')
         |UNION ALL SELECT 'minimum', 'turn_idx' FROM transcripts WHERE turn_idx < 0
         |UNION ALL SELECT 'pattern', 'tool' FROM transcripts WHERE tool IS NOT NULL AND NOT regexp_matches(tool, '^[a-z][a-z0-9_]*$$')
         |UNION ALL SELECT 'dependencies', 'tool' FROM transcripts WHERE tool IS NOT NULL AND role IS NULL)
         |SELECT "constraint", "column", CAST(COUNT(*) AS BIGINT) AS n
         |FROM vios GROUP BY 1, 2""".stripMargin),

    // multipleOf on a double column through the real validator (the
    // decimal-exact remainder path, SURVEY §7 hard part)
    Gate("v_multipleof", (s, dir) => {
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
      Validator.violations(li, compileSchema(schemaJson), Seq("l_orderkey", "l_linenumber"))
    },
      """SELECT l_orderkey, l_linenumber,
        |  '/' || CAST(l_orderkey AS VARCHAR) || '/' || CAST(l_linenumber AS VARCHAR) || '/l_discount' AS pointer,
        |  'multipleOf' AS "constraint",
        |  CAST(l_discount AS VARCHAR) AS actual
        |FROM lineitem
        |WHERE CAST(l_discount AS DECIMAL(38,12)) % 0.02 <> 0""".stripMargin),

    Gate("orders_ref_integrity", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_count"))
    },
      """SELECT CAST(COUNT(*) AS BIGINT) AS orphan_count FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)""".stripMargin),

    Gate("v_lengths_types", (s, dir) => dirtyViolations(s, dir, s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "code": { "type": "string", "minLength": 4, "maxLength": 7 },
          "frac": { "type": "integer" }
        } }"""),
      s"""WITH $dCte
         |SELECT l_orderkey, l_linenumber, ${kPtr("code")} AS pointer, 'minLength' AS "constraint", code AS actual
         |FROM dirty WHERE length(code) < 4
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("code")}, 'maxLength', code
         |FROM dirty WHERE length(code) > 7
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("frac")}, 'type:integer', CAST(frac AS VARCHAR)
         |FROM dirty WHERE frac <> floor(frac)""".stripMargin),

    Gate("v_formats", (s, dir) => dirtyViolations(s, dir, balance = true, schemaJson = s"""
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
        } }"""),
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
         |FROM dirty WHERE l_orderkey % 37 IN (8, 9)""".stripMargin),

    Gate("v_combinators", (s, dir) => dirtyViolations(s, dir, s"""
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
        } }"""),
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
         |FROM dirty WHERE notc = 'forbidden'""".stripMargin),

    Gate("v_arrays", (s, dir) => dirtyViolations(s, dir, s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "tags": { "type": "array", "minItems": 1, "maxItems": 4, "uniqueItems": true,
                    "items": { "type": "string", "pattern": "^[a-z]+$$" } },
          "pair": { "type": "array",
                    "items": [ { "type": "string", "pattern": "^k" },
                               { "type": "string", "pattern": "^v" } ],
                    "additionalItems": false }
        } }"""),
      // array/map branches are the planted ground truth; `actual` is the
      // to_json rendering of the branch literal
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
         |FROM dirty WHERE l_orderkey % 13 = 2""".stripMargin),

    // combinators NESTED inside items: each element must match exactly
    // one oneOf branch ('n9' matches both -> violation, 'zz' neither)
    Gate("v_array_oneof", (s, dir) => dirtyViolations(s, dir, s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "mix": { "type": "array",
                   "items": { "oneOf": [ { "type": "string", "pattern": "^n[0-9]+$$" },
                                         { "type": "string", "pattern": "9$$" } ] } }
        } }"""),
      s"""WITH $dCte
         |SELECT l_orderkey, l_linenumber, ${kPtr("mix")} AS pointer, 'items' AS "constraint", '["zz","x9"]' AS actual
         |FROM dirty WHERE l_orderkey % 27 = 0
         |UNION ALL
         |SELECT l_orderkey, l_linenumber, ${kPtr("mix")}, 'items', '["n9"]'
         |FROM dirty WHERE l_orderkey % 27 = 1""".stripMargin),

    Gate("v_maps", (s, dir) => dirtyViolations(s, dir, s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "attrs": { "type": "object", "minProperties": 1, "maxProperties": 3,
                     "required": ["kind"],
                     "properties": { "kind": { "type": "string", "enum": ["a", "b"] } },
                     "patternProperties": { "^x_": { "type": "string", "pattern": "^[0-9]+$$" } },
                     "additionalProperties": { "type": "string", "maxLength": 4 } }
        } }"""),
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
         |FROM dirty WHERE l_orderkey % 9 = 4""".stripMargin),

    // object schema on a STRUCT-typed column (the fail-open class the
    // round-2 review caught: without the struct branch this compiled to
    // zero checks and every planted violation passed silently)
    Gate("v_structs", (s, dir) => dirtyViolations(s, dir, balance = true, schemaJson = s"""
      { "type": "object", "required": ["l_orderkey", "l_linenumber"],
        "properties": {
          $dirtyKeyProps,
          "meta": { "type": "object", "minProperties": 1, "maxProperties": 3,
                    "required": ["kind"],
                    "properties": { "kind": { "type": "string", "enum": ["a", "b"] },
                                    "note": { "type": "string", "maxLength": 6 } },
                    "patternProperties": { "^x_": { "type": "string", "pattern": "^[0-9]+$$" } },
                    "additionalProperties": { "type": "string", "maxLength": 4 } }
        } }"""),
      // struct branches are planted ground truth (same discipline as
      // v_maps); `actual` is the fixed to_json literal per branch
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
         |FROM dirty WHERE l_orderkey % 8 = 5""".stripMargin)
  )
}
