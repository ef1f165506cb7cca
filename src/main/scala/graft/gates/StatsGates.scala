package graft.gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.TranscriptDerive
import graft.stats.{Drift, SchemaInfer, Stats}
import Inputs._

/** Statistics, drift and constraint-inference gates: column profiles
  * and quantiles, schema/dependency/key inference, half-vs-half drift,
  * outliers, contingency and rollup statistics, quantile cutoffs.
  */
object StatsGates {

  /** t-digest acceptance band per profiled column (absolute, generous:
    * the gate pins "sketch is sane", exactness is the exact_q column).
    */
  private val quantileProbs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)

  /** Both conversation halves' histograms over `bucket` in ONE scan
    * ([[graft.stats.Drift.histogram]]): even order keys are the current
    * side, odd ones the reference.
    */
  private def halvesDrift(s: SparkSession, dir: String, bucket: Column): DataFrame = {
    val half = substring(col("conv_id"), 2, 30).cast("long") % 2
    Drift.histogram(TranscriptDerive.fromLineitem(s, dir), bucket,
      when(half === 0, true).when(half === 1, false))
  }

  /** The replay of [[halvesDrift]]: per-half counts of `bucket`, both
    * sides floored at 1e-9 (the r CTE), then `select` over r.
    */
  private def halvesDriftSql(bucket: String, select: String): String =
    s"""WITH $tCte,
       |t2 AS (SELECT $bucket AS bucket,
       |              CAST(substr(conv_id,2) AS BIGINT) % 2 AS half FROM transcripts),
       |p AS (SELECT bucket, COUNT(*) AS pc FROM t2 WHERE half = 0 GROUP BY bucket),
       |q AS (SELECT bucket, COUNT(*) AS qc FROM t2 WHERE half = 1 GROUP BY bucket),
       |j AS (SELECT COALESCE(pc,0) AS pc, COALESCE(qc,0) AS qc
       |      FROM p FULL OUTER JOIN q USING (bucket)),
       |tot AS (SELECT (SELECT SUM(pc) FROM p) AS pt, (SELECT SUM(qc) FROM q) AS qt),
       |r AS (SELECT GREATEST(CAST(pc AS DOUBLE)/pt, 1e-9) AS pi,
       |             GREATEST(CAST(qc AS DOUBLE)/qt, 1e-9) AS qi FROM j, tot)
       |$select""".stripMargin

  private val klPsiSql =
    """SELECT ROUND(SUM(pi*LN(pi/qi)), 6) AS kl,
      |       ROUND(SUM((pi-qi)*LN(pi/qi)), 6) AS psi FROM r""".stripMargin

  /** Replays the exact inference rule per column over `from`: required =
    * null-free, numeric/timestamp bounds as doubles (timestamps in epoch
    * micros), string length bounds, enum = sorted exact value set when
    * the non-null distinct count is in [1,16] (string/integer columns
    * only). The pattern replay mirrors the fixed menu rule: first
    * anchored candidate with zero non-matching non-null values (none if
    * the column is all-null).
    */
  private def inferSql(from: String): String = {
    val menuSql = SchemaInfer.patternMenu.map(pt =>
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
         |FROM $from""".stripMargin
    def intCol(n: String) =
      s"""SELECT '$n', 'integer', CAST(NULL AS VARCHAR),
         |COUNT(*) FILTER (WHERE $n IS NULL) = 0 AND COUNT(*) > 0,
         |CAST(MIN($n) AS DOUBLE), CAST(MAX($n) AS DOUBLE),
         |CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
         |CASE WHEN COUNT(DISTINCT $n) BETWEEN 1 AND 16
         |     THEN array_to_string(list_sort(list(DISTINCT CAST($n AS VARCHAR))), chr(1)) END,
         |CAST(NULL AS VARCHAR)
         |FROM $from""".stripMargin
    def tsCol(n: String) =
      s"""SELECT '$n', 'string', 'date-time',
         |COUNT(*) FILTER (WHERE $n IS NULL) = 0 AND COUNT(*) > 0,
         |CAST(epoch_us(MIN($n)) AS DOUBLE), CAST(epoch_us(MAX($n)) AS DOUBLE),
         |CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         |FROM $from""".stripMargin
    Seq(strCol("conv_id"), intCol("turn_idx"), strCol("role"),
      strCol("text"), strCol("tool"), tsCol("ts")).mkString("\nUNION ALL\n")
  }

  val all: Seq[Gate] = Seq(
    Gate("stats_profile", (s, dir) => {
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
    }, {
      def one(n: String) =
        s"""SELECT '$n' AS col_name, CAST(COUNT(*) AS BIGINT) AS cnt,
           |CAST(SUM(CASE WHEN $n IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_count,
           |CAST(MIN($n) AS VARCHAR) AS min_value, CAST(MAX($n) AS VARCHAR) AS max_value,
           |CAST(COUNT(DISTINCT $n) AS BIGINT) AS n_distinct FROM transcripts""".stripMargin
      s"""WITH $tCte
         |${Seq("conv_id", "turn_idx", "role", "text", "tool", "ts").map(one).mkString("\nUNION ALL\n")}""".stripMargin
    }),

    // draft-4 constraint INFERENCE (Deequ-style suggestion): per column,
    // the tightest type/required/bounds/lengths/enum the observed data
    // satisfies. The emitted rule is exact (the oracle replays it with
    // exact aggregates); the HLL only prunes enum candidates with a 2x
    // margin. renderSchemaJson over these rows re-parses through
    // TableSchemaCompiler and validates the source table clean
    // (round-trip pinned by SchemaInferSpec).
    Gate("schema_infer", (s, dir) =>
      graft.stats.SchemaInfer.inferConstraints(
        TranscriptDerive.fromLineitem(s, dir, balance = true), enumMaxDistinct = 16),
      s"""WITH $tCte
         |${inferSql("transcripts")}""".stripMargin),

    // property-dependency suggestion (draft-4 dependencies keyword):
    // for every ordered column pair, does antecedent-non-null imply
    // consequent-non-null on the data — one wide conditional-sum agg
    Gate("dep_suggest", (s, dir) =>
      graft.stats.SchemaInfer.suggestDependencies(TranscriptDerive.fromLineitem(s, dir)),
      {
        // replays the implication rule per ordered column pair: holds iff
        // the antecedent is observed and no row has antecedent without
        // consequent
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
      }),

    // key-candidate suggestion: which candidate column sets are true
    // primary keys (no null components, no duplicate values) — exact
    // verdicts, HLL-pruned so only could-be keys pay the exact probe.
    // conv_id fails on cardinality, (conv_id,turn_idx) on the planted
    // duplicates, (conv_id,turn_idx,role) on role nulls; adding text
    // separates every planted collision -> the one true key
    Gate("key_candidates", (s, dir) =>
      graft.stats.SchemaInfer.suggestKeys(TranscriptDerive.fromLineitem(s, dir), Seq(
        Seq("conv_id"),
        Seq("conv_id", "turn_idx"),
        Seq("conv_id", "turn_idx", "role"),
        Seq("conv_id", "turn_idx", "text"))),
      {
        // replays the exact key rule per candidate: no null components, no
        // duplicate key groups (the HLL prune is Spark-internal — it can
        // only skip exact probes for candidates that are provably not keys)
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
      }),

    // schema-LEVEL drift: constraints inferred on conversation half 0
    // (the baseline snapshot) vs half 1 (the current table), diffed to
    // one report row per column — the contract-moved companion to the
    // histogram drift gates, over the same half split
    Gate("schema_drift", (s, dir) => {
      // balance=true: each half-profile is a compute-dense single-pass
      // chain (the schema_infer precedent) — A/B'd 6-rep in one window:
      // balanced min 2.08 s vs unbalanced 2.55 s (the two concurrent
      // futures leave enough idle cores for both balanced chains)
      val t = TranscriptDerive.fromLineitem(s, dir, balance = true)
        .withColumn("__half", substring(col("conv_id"), 2, 30).cast("long") % 2)
      graft.stats.SchemaInfer.constraintDrift(
        t.filter(col("__half") === 0).drop("__half"),
        t.filter(col("__half") === 1).drop("__half"), enumMaxDistinct = 16)
    },
      // the schema_infer replay per half + the diff rule (both halves
      // carry all 6 columns, so status is always 'ok' on this fixture)
      s"""WITH $tCte,
         |th AS (SELECT *, CAST(substr(conv_id,2) AS BIGINT) % 2 AS half FROM transcripts),
         |b AS (${inferSql("th WHERE half = 0")}),
         |c AS (${inferSql("th WHERE half = 1")}),
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
         |FROM b JOIN c USING ("column") LEFT JOIN ne ON ne.col2 = b."column"""".stripMargin),

    Gate("drift_role_klpsi", (s, dir) =>
      halvesDrift(s, dir, Drift.categoricalBucket(col("role")))
        .select(round(Drift.kl, 6).as("kl"), round(Drift.psi, 6).as("psi")),
      halvesDriftSql("COALESCE(role,'<null>')", klPsiSql)),

    // symmetric bounded drift (Jensen-Shannon, bits) over the same
    // single-scan half-vs-half histogram
    Gate("drift_role_jsd", (s, dir) =>
      halvesDrift(s, dir, Drift.categoricalBucket(col("role")))
        .select(round(Drift.jsd, 6).as("jsd")),
      // same r CTE as the KL/PSI replay; nats summed, one /LN(2) at the
      // end (mirrors the Spark expression's arithmetic exactly)
      halvesDriftSql("COALESCE(role,'<null>')",
        """SELECT ROUND(SUM(0.5*pi*LN(pi/((pi+qi)/2.0)) + 0.5*qi*LN(qi/((pi+qi)/2.0)))
          |             / LN(2.0), 6) AS jsd FROM r""".stripMargin)),

    // numeric-drift path (banded text-length histogram) — same
    // single-scan shape, bucket = least(floor(len/16), 63)
    Gate("drift_textlen_klpsi", (s, dir) =>
      halvesDrift(s, dir, Drift.textLengthBucket(col("text")))
        .select(round(Drift.kl, 6).as("kl"), round(Drift.psi, 6).as("psi")),
      halvesDriftSql("LEAST(CAST(FLOOR(length(COALESCE(text,'')) / 16.0) AS BIGINT), 63)", klPsiSql)),

    // per-type value anomalies: rows >= 3 population sigmas from their
    // event type's mean (the row-naming companion to the drift stats)
    Gate("value_outliers", (s, dir) =>
      Stats.zscoreOutliers(
        s.read.parquet(s"$dir/events.parquet").select("event_id", "event_type", "value"),
        "value", "event_type", threshold = 3.0)
        .select(col("event_id"), col("event_type"), col("value"), col("zscore")),
      // replays the operator's two-pass centered variance (mean first,
      // then sum of squared deviations), the cancellation-safe shape;
      // IS NOT DISTINCT FROM mirrors the operator's null-safe group join
      // (a NULL event_type is a group, not a dropped row)
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
        |  AND ABS((CAST(value AS DOUBLE) - mu) / SQRT(ssq / n)) >= 3.0""".stripMargin),

    // t-digest quantiles gated against the exact per-engine quantile:
    // exact_q pins Spark `percentile` == DuckDB `quantile_cont`; td_ok
    // pins the sketch inside an absolute band of the exact value
    Gate("stats_quantiles", (s, dir) => {
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
    }, {
      val rows = quantileProbs.flatMap { p =>
        Seq(
          s"SELECT 'turn_idx' AS col_name, $p AS p, ROUND(quantile_cont(v1, $p), 6) AS exact_q, TRUE AS td_ok FROM vals",
          s"SELECT 'text_len', $p, ROUND(quantile_cont(v2, $p), 6), TRUE FROM vals")
      }
      s"""WITH $tCte,
         |vals AS (SELECT CAST(turn_idx AS DOUBLE) AS v1, CAST(length(text) AS DOUBLE) AS v2 FROM transcripts)
         |${rows.mkString("\nUNION ALL\n")}""".stripMargin
    }),

    // Pearson chi-square independence test between two categorical
    // columns (is the lang mix the same across sources?) — observed
    // cells from one count agg, expected from the marginals' cross
    // join (so ZERO-observed cells still contribute their expected
    // mass), one (chi2, dof) row out
    Gate("chi2_source_lang", (s, dir) => {
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
    },
      // chi-square over the FULL r x c cell grid (missing combos carry
      // their expected mass); term arithmetic mirrors the Spark side
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
        |FROM terms""".stripMargin),

    // multi-level corpus profile in ONE pass: per-(source, lang)
    // detail, per-source subtotal, grand total via rollup —
    // grouping_id disambiguates rollup nulls from data nulls
    Gate("stats_rollup", (s, dir) =>
      docs(s, dir).rollup(col("source"), col("lang"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .select(col("source"), col("lang"), col("gid"),
          col("n_docs"), col("avg_chars")),
      // GROUPING() carries the same bit encoding as Spark's grouping_id
      // (first listed column = MSB, 1 = rolled up)
      """SELECT source, lang, CAST(GROUPING(source, lang) AS BIGINT) AS gid,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, ROUND(AVG(n_chars), 6) AS avg_chars
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin),

    // quality cutoff: docs at or above the corpus median length —
    // exact-percentile threshold broadcast into a map-side filter
    Gate("quality_filter", (s, dir) =>
      Stats.aboveQuantileExact(docs(s, dir), "n_chars", 0.5)
        .select(col("doc_id"), col("n_chars")),
      """SELECT doc_id, n_chars FROM documents
        |WHERE CAST(n_chars AS DOUBLE) >=
        |  (SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.5) FROM documents)""".stripMargin),

    // score calibration: each doc's exact within-source CDF rank of
    // n_chars (integer counts — bit-deterministic, no interpolation)
    Gate("cdf_bygroup", (s, dir) =>
      Stats.cdfByGroup(docs(s, dir), "n_chars", "source")
        .select(col("doc_id"), col("source"), col("n_chars"), col("cdf")),
      // the window runs over DISTINCT (source, n_chars) — the oracle
      // mirrors that and joins back, like the operator
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
        |JOIN tot ON cum.g = tot.g""".stripMargin),

    // per-SOURCE cutoff (the CCNet per-language shape): each doc is
    // judged against its own source's 0.75-quantile, not the corpus's
    Gate("quality_filter_bygroup", (s, dir) =>
      Stats.aboveQuantileByGroupExact(docs(s, dir), "n_chars", 0.75, "source")
        .select(col("doc_id"), col("source"), col("n_chars")),
      """WITH thr AS (
        |  SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.75) AS t
        |  FROM documents GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars
        |FROM documents d JOIN thr ON d.source IS NOT DISTINCT FROM thr.source
        |WHERE CAST(d.n_chars AS DOUBLE) >= t""".stripMargin)
  )
}
