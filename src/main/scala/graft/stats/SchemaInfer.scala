package graft.stats

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Draft-4 constraint INFERENCE — the "suggest constraints" companion
  * to the validator (the feature Deequ/Great-Expectations ship as
  * constraint suggestion, re-expressed over this engine's draft-4
  * vocabulary; reference vocabulary:
  * `/root/reference/src/main/scala/json/schema/parser/model.scala:71-94`).
  * Profiles a table and emits, per column, the TIGHTEST draft-4 keyword
  * set the observed data satisfies — `type` / `required` / `minimum` /
  * `maximum` / `minLength` / `maxLength` / `enum` — plus a
  * deterministic renderer producing a draft-4 schema document that
  * [[graft.compile.TableSchemaCompiler]] re-parses and binds, so
  * inferred schemas round-trip through the engine's own compile
  * pipeline: `validate(render(infer(t)), t)` emits ZERO violations by
  * construction (pinned by SchemaInferSpec), and any later row outside
  * the observed envelope is flagged by the ordinary gated validator.
  *
  * Scale shape (the 100-TB contract):
  *  - pass 1 is ONE wide map-side-combining aggregation over the scan
  *    (nulls, typed min/max, string length bounds, HyperLogLog++
  *    distinct per column) — the [[Stats.profileLong]] physical shape, one
  *    1-row collect;
  *  - enum candidacy is decided driver-side from the HLL estimate with
  *    a 2x safety margin (HLL++ at Spark's default rsd 0.05 is within
  *    a few percent — 2x cannot miss a true <=`enumMaxDistinct`-ary
  *    column; the margin is part of the documented rule);
  *  - pass 2 collects the EXACT value set for candidate columns only,
  *    in ONE scan (exploded (column, value) pairs, map-side partial
  *    collect_set) — every per-group set is bounded by the prune at
  *    ~2x `enumMaxDistinct` values, so the collect is O(columns x
  *    enumMaxDistinct), never data-sized. The exact set (not the HLL)
  *    decides enum membership, so output is a pure function of the
  *    data.
  *
  * Enum literals are inferred only for string / integral / boolean
  * columns — fractional and timestamp literals do not render
  * engine-stably (float formatting differs across engines) and are
  * poor enum candidates anyway; they keep range constraints instead.
  */
object SchemaInfer {

  /** One row per input column (input order), the inference result:
    * `(column, json_type, format, required, min_num, max_num, min_len,
    * max_len, enum_vals)`. `min_num`/`max_num` carry numeric bounds as
    * exact-integer-valued doubles for integral columns,
    * microseconds-since-epoch for timestamps, raw doubles for
    * fractional columns; `min_len`/`max_len` are string length bounds;
    * `enum_vals` is the sorted exact value set joined with [[EnumSep]] when the
    * column's non-null distinct count is in `[1, enumMaxDistinct]`,
    * else null.
    */
  val outputSchema: StructType = StructType(Seq(
    StructField("column", StringType, nullable = false),
    StructField("json_type", StringType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("required", BooleanType, nullable = false),
    StructField("min_num", DoubleType, nullable = true),
    StructField("max_num", DoubleType, nullable = true),
    StructField("min_len", LongType, nullable = true),
    StructField("max_len", LongType, nullable = true),
    StructField("enum_vals", StringType, nullable = true),
    StructField("pattern", StringType, nullable = true)))

  /** Candidate `pattern` menu, most-specific first: the inferred
    * pattern is the FIRST candidate every non-null value of a string
    * column matches (fully — all candidates are anchored, so partial
    * draft-4 `pattern` semantics coincide with full match). A fixed
    * menu keeps the rule deterministic, cheap (a handful of conditional
    * sums in the same wide agg) and replayable in RE2-only engines —
    * open-ended regex induction is neither.
    */
  val patternMenu: Seq[String] = Seq(
    "^[0-9]+$",
    "^[a-z]+$",
    "^[a-z][0-9]+$",
    "^[a-z][a-z0-9_]*$",
    "^[A-Za-z]+$",
    "^[A-Za-z0-9_.-]+$")

  /** Separator for the `enum_vals` set encoding: U+0001 (DuckDB
    * `chr(1)`, the engine's established digest separator) — a comma
    * would corrupt the set for any value containing one. A value that
    * itself contains U+0001 cannot be encoded; the enum is DROPPED for
    * that column (conservative: bounds still apply, the set constraint
    * is skipped rather than corrupted).
    */
  val EnumSep = ""

  private def isIntegral(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def jsonType(dt: DataType): (String, Option[String]) = dt match {
    case StringType      => ("string", None)
    case BooleanType     => ("boolean", None)
    case dt if isIntegral(dt) => ("integer", None)
    case FloatType | DoubleType | _: DecimalType => ("number", None)
    case TimestampType | TimestampNTZType => ("string", Some("date-time"))
    case _: ArrayType    => ("array", None)
    case _               => ("object", None)
  }

  private def enumEligible(dt: DataType): Boolean =
    dt == StringType || dt == BooleanType || isIntegral(dt)

  /** Characters java.util.regex treats as line terminators (where a
    * bare `$` also matches BEFORE a trailing one) but RE2 does not.
    * Values containing any of them never pattern-match — that keeps the
    * rule identical across regex engines (and across SimplePattern,
    * which mirrors java semantics).
    */
  private val lineTerminators = Seq("\n", "\r", "", " ", " ")

  /** All inference passes run over a POSITIONALLY RENAMED frame
    * (`__c0`, `__c1`, ...) so arbitrary real-world column names —
    * dots, backticks, double underscores — never reach the column
    * parser or collide in aggregate aliases; outputs report the
    * original names.
    */
  private def safeFrame(df: DataFrame): DataFrame =
    df.toDF(df.columns.indices.map(i => s"__c$i"): _*)

  /** Pass-1 profile aggregates over the safe frame (index-keyed
    * aliases). */
  private def profileAggs(df: DataFrame): Seq[Column] =
    count(lit(1)).as("__total") +: df.schema.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
      val c = col(s"__c$i")
      val (minC, maxC) = f.dataType match {
        case _: NumericType => (min(c).cast("double"), max(c).cast("double"))
        case TimestampType  => (min(unix_micros(c)).cast("double"), max(unix_micros(c)).cast("double"))
        case TimestampNTZType =>
          // NTZ micros are well-defined only when the NTZ->LTZ cast is an
          // identity (the retentionCohorts precedent): require UTC rather
          // than silently shifting bounds by the session zone offset
          val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
          require(tz == "UTC" || tz == "Etc/UTC" || tz == "GMT",
            s"inferConstraints on a TIMESTAMP_NTZ '${f.name}' needs " +
              s"spark.sql.session.timeZone=UTC (got $tz): the NTZ->LTZ cast " +
              "would shift the inferred bounds by the zone offset")
          (min(unix_micros(c.cast(TimestampType))).cast("double"),
           max(unix_micros(c.cast(TimestampType))).cast("double"))
        case _              => (lit(null).cast("double"), lit(null).cast("double"))
      }
      val (minL, maxL) = f.dataType match {
        case StringType => (min(length(c)).cast("long"), max(length(c)).cast("long"))
        case _          => (lit(null).cast("long"), lit(null).cast("long"))
      }
      val patternMisses = f.dataType match {
        case StringType => patternMenu.zipWithIndex.map { case (p, k) =>
          // the validator's codegen byte-loop fast path (the whole menu
          // is inside SimplePattern's subset; rlike only as a safety
          // net); the terminator conjunct keeps java-regex and RE2
          // verdicts identical on trailing-newline values
          val hit = graft.functions.SimplePatternMatch.tryColumn(c, p).getOrElse(c.rlike(p)) &&
            lineTerminators.map(t => !c.contains(t)).reduce(_ && _)
          sum((c.isNotNull && !hit).cast("long")).as(s"__c${i}__pm_$k")
        }
        case _ => Nil
      }
      Seq(
        sum(c.isNull.cast("long")).as(s"__c${i}__nulls"),
        minC.as(s"__c${i}__min"), maxC.as(s"__c${i}__max"),
        minL.as(s"__c${i}__minlen"), maxL.as(s"__c${i}__maxlen"),
        (if (enumEligible(f.dataType)) approx_count_distinct(c)
         else lit(null).cast("long")).as(s"__c${i}__hll")) ++ patternMisses
    }

  /** Pass 2: exact enum sets for HLL-pruned candidate indexes, one
    * bounded scan over the safe frame. */
  private def enumPass(sdf: DataFrame, candidateIdx: Seq[Int]): Map[Int, Seq[String]] =
    if (candidateIdx.isEmpty) Map.empty
    else {
      val pairs = sdf.select(explode(array(candidateIdx.map(i =>
          struct(lit(i).as("i"), col(s"__c$i").cast("string").as("v"))): _*)).as("p"))
        .select(col("p.i").as("i"), col("p.v").as("v"))
        .where(col("v").isNotNull)
      pairs.groupBy("i").agg(sort_array(collect_set(col("v"))).as("vals"))
        .collect() // bounded: candidates x ~2*enumMaxDistinct values
        .map(r => r.getInt(0) -> r.getSeq[String](1)).toMap
    }

  private def parseProfile(row: Row, fields: Seq[StructField],
                           enums: Map[Int, Seq[String]], enumMaxDistinct: Int): Seq[Row] = {
    def l(n: String): Option[Long] = Option(row.getAs[java.lang.Long](n)).map(_.longValue)
    def d(n: String): Option[Double] = Option(row.getAs[java.lang.Double](n)).map(_.doubleValue)
    val total = row.getAs[Long]("__total")
    fields.zipWithIndex.map { case (f, i) =>
      val (jt, fmt) = jsonType(f.dataType)
      val nulls = l(s"__c${i}__nulls").getOrElse(0L)
      val enumV = enums.get(i)
        .filter(vs => vs.nonEmpty && vs.length <= enumMaxDistinct &&
          !vs.exists(_.contains(EnumSep))) // unencodable value: drop the enum
        .map(_.mkString(EnumSep))
      val pattern =
        if (f.dataType != StringType || nulls == total) None
        else patternMenu.zipWithIndex
          .find { case (_, k) => l(s"__c${i}__pm_$k").contains(0L) }
          .map(_._1)
      Row(f.name, jt, fmt.orNull, total > 0L && nulls == 0L,
        d(s"__c${i}__min").map(Double.box).orNull,
        d(s"__c${i}__max").map(Double.box).orNull,
        l(s"__c${i}__minlen").map(Long.box).orNull,
        l(s"__c${i}__maxlen").map(Long.box).orNull,
        enumV.orNull,
        pattern.orNull)
    }
  }

  private def candidateIdx(row: Row, fields: Seq[StructField], enumMaxDistinct: Int): Seq[Int] =
    fields.zipWithIndex.collect {
      case (f, i) if enumEligible(f.dataType) &&
        Option(row.getAs[java.lang.Long](s"__c${i}__hll"))
          .exists(_.longValue <= 2L * enumMaxDistinct) => i
    }

  def inferConstraints(df: DataFrame, enumMaxDistinct: Int = 16): DataFrame = {
    require(enumMaxDistinct >= 1, s"enumMaxDistinct must be >= 1, got $enumMaxDistinct")
    val spark = df.sparkSession
    val fields = df.schema.fields.toSeq
    val sdf = safeFrame(df)
    val aggs = profileAggs(df)
    val row = sdf.agg(aggs.head, aggs.tail: _*).collect()(0) // 1-row collect
    val enums = enumPass(sdf, candidateIdx(row, fields, enumMaxDistinct))
    spark.createDataFrame(
      spark.sparkContext.parallelize(parseProfile(row, fields, enums, enumMaxDistinct), 1),
      outputSchema)
  }

  /** Quoted JSON string literal — the shared [[graft.functions.JsonRender]]
    * escaper (one escaper in the codebase, not four slightly-divergent
    * copies).
    */
  private def jstr(s: String): String = {
    val sb = new java.lang.StringBuilder
    graft.functions.JsonRender.appendEscaped(sb,
      org.apache.spark.unsafe.types.UTF8String.fromString(s))
    sb.toString
  }

  /** Render one fractional bound via BigDecimal's plain string (no
    * locale, no E-notation surprises; the double is rendered exactly,
    * so the bound is sound).
    */
  private def num(v: Double): String = new java.math.BigDecimal(v).toPlainString

  /** Integer bounds pass through the agg as doubles; above 2^53 a long
    * does not round-trip, so the rendered bound is WIDENED one ulp
    * outward (floor/ceil of the adjacent double) — the schema stays
    * SOUND (never excludes an observed value) and stays exactly tight
    * in the entire +-2^53 range.
    */
  private def intBound(v: Double, up: Boolean): Long =
    if (math.ulp(v) <= 1.0) v.toLong
    else if (up) math.ceil(Math.nextUp(v)).toLong // toLong saturates at Long.Max
    else math.floor(Math.nextDown(v)).toLong

  /** Deterministic draft-4 document from [[inferConstraints]] rows
    * (column order preserved; `required` lists the null-free columns in
    * that order; keywords per type: string -> minLength/maxLength,
    * integer/number -> minimum/maximum, timestamp -> format date-time;
    * enum rendered with type-correct literals). The output re-parses
    * through [[graft.compile.TableSchemaCompiler]] — that round-trip is
    * the contract.
    */
  def renderSchemaJson(constraints: Seq[Row],
                       id: String = "http://graft.local/inferred#",
                       dependencies: Seq[(String, String)] = Nil): String = {
    val props = constraints.map { r =>
      val name = r.getString(0); val jt = r.getString(1)
      val fmt = Option(r.getString(2))
      // NaN/Infinity bounds (a poison float in the data) cannot render
      // as JSON literals: skip the bound rather than crash the render
      val minN = Option(r.get(4)).map(_.asInstanceOf[Double])
        .filter(v => !v.isNaN && !v.isInfinite)
      val maxN = Option(r.get(5)).map(_.asInstanceOf[Double])
        .filter(v => !v.isNaN && !v.isInfinite)
      val minL = Option(r.get(6)).map(_.asInstanceOf[Long])
      val maxL = Option(r.get(7)).map(_.asInstanceOf[Long])
      val enumV = Option(r.getString(8)).map(_.split(EnumSep, -1).toSeq)
      val kw = scala.collection.mutable.ArrayBuffer(s""""type": "$jt"""")
      fmt.foreach(f => kw += s""""format": "$f"""")
      if (fmt.isEmpty) { // ranges only where the literal renders stably
        if (jt == "integer") {
          minN.foreach(v => kw += s""""minimum": ${intBound(v, up = false)}""")
          maxN.foreach(v => kw += s""""maximum": ${intBound(v, up = true)}""")
        }
        if (jt == "number") {
          minN.foreach(v => kw += s""""minimum": ${num(v)}""")
          maxN.foreach(v => kw += s""""maximum": ${num(v)}""")
        }
        if (jt == "string") {
          minL.foreach(v => kw += s""""minLength": $v""")
          maxL.foreach(v => kw += s""""maxLength": $v""")
          if (r.length > 9) Option(r.getString(9))
            .foreach(p => kw += s""""pattern": ${jstr(p)}""")
        }
        enumV.foreach { vs =>
          val lits = jt match {
            case "string"  => vs.map(jstr)
            case "integer" => vs.map(_.toLong.toString)
            case "boolean" => vs // "true"/"false" are already literals
            case _         => Seq.empty
          }
          if (lits.nonEmpty) kw += s""""enum": [${lits.mkString(", ")}]"""
        }
      }
      s"""${jstr(name)}: { ${kw.mkString(", ")} }"""
    }
    val required = constraints.filter(_.getBoolean(3)).map(r => jstr(r.getString(0)))
    val reqLine = if (required.isEmpty) "" else s"""  "required": [${required.mkString(", ")}],\n"""
    val depLine =
      if (dependencies.isEmpty) ""
      else {
        val order = constraints.map(_.getString(0)).zipWithIndex.toMap
        val byAnte = dependencies.groupBy(_._1).toSeq
          .sortBy { case (a, _) => order.getOrElse(a, Int.MaxValue) }
          .map { case (a, ds) =>
            val targets = ds.map(_._2).distinct
              .sortBy(t => order.getOrElse(t, Int.MaxValue)).map(jstr)
            s"${jstr(a)}: [${targets.mkString(", ")}]"
          }
        s"""  "dependencies": { ${byAnte.mkString(", ")} },\n"""
      }
    s"""{
       |  "$$schema": "http://json-schema.org/draft-04/schema#",
       |  "id": ${jstr(id)},
       |  "type": "object",
       |$reqLine$depLine  "properties": {
       |    ${props.mkString(",\n    ")}
       |  }
       |}""".stripMargin
  }

  /** Property-dependency suggestion (the draft-4 `dependencies`
    * keyword, property form): for every ordered column pair (a, b),
    * does `a IS NOT NULL ⇒ b IS NOT NULL` hold on the data? ONE wide
    * conditional-sum aggregation over the scan (|columns|^2 counters —
    * counters, not shuffled data). Output per pair:
    * `(antecedent, consequent, antecedent_rows, violations, holds)`
    * with `holds` exact. [[inferSchemaJson]] folds in the
    * NON-REDUNDANT holding pairs (consequent not already `required`,
    * antecedent actually observed) — e.g. the flagship's
    * `dependencies: {tool: [role]}` re-derived from data alone.
    */
  /** Ordered index pairs + their conditional-sum aggregates over the
    * safe frame: pair k counts rows violating `__c_a non-null =>
    * __c_b non-null` (pair-INDEX-keyed aliases — original column names
    * never form aliases, so names containing "__" cannot collide).
    */
  private def depPairs(n: Int): Seq[(Int, Int)] =
    for { a <- 0 until n; b <- 0 until n if a != b } yield (a, b)

  private def depAggs(n: Int): Seq[Column] =
    (0 until n).map(i => sum(col(s"__c$i").isNotNull.cast("long")).as(s"__nn_$i")) ++
      depPairs(n).zipWithIndex.map { case ((a, b), k) =>
        sum((col(s"__c$a").isNotNull && col(s"__c$b").isNull).cast("long")).as(s"__dv_$k")
      }

  private def parseDeps(row: Row, names: Seq[String]): Seq[Row] =
    depPairs(names.length).zipWithIndex.map { case ((a, b), k) =>
      val nn = row.getAs[Long](s"__nn_$a")
      val v = row.getAs[Long](s"__dv_$k")
      Row(names(a), names(b), nn, v, nn > 0L && v == 0L)
    }

  private val depSchema = StructType(Seq(
    StructField("antecedent", StringType, nullable = false),
    StructField("consequent", StringType, nullable = false),
    StructField("antecedent_rows", LongType, nullable = false),
    StructField("violations", LongType, nullable = false),
    StructField("holds", BooleanType, nullable = false)))

  def suggestDependencies(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val names = df.columns.toSeq
    require(names.length >= 2, "need at least two columns")
    val sdf = safeFrame(df)
    val aggs = depAggs(names.length)
    val row = sdf.agg(aggs.head, aggs.tail: _*).collect()(0)
    spark.createDataFrame(
      spark.sparkContext.parallelize(parseDeps(row, names), 1), depSchema)
  }

  /** infer + render in one call; `withDependencies` folds in the
    * non-redundant data-true property dependencies (they hold on the
    * profiled table, so the round-trip stays zero-violation). The
    * profile AND dependency counters ride ONE wide aggregation — the
    * CLI path pays one scan plus the bounded enum scan, never a third.
    */
  def inferSchemaJson(df: DataFrame, enumMaxDistinct: Int = 16,
                      id: String = "http://graft.local/inferred#",
                      withDependencies: Boolean = true): String = {
    require(enumMaxDistinct >= 1, s"enumMaxDistinct must be >= 1, got $enumMaxDistinct")
    val fields = df.schema.fields.toSeq
    val names = fields.map(_.name)
    val withDeps = withDependencies && names.length >= 2
    val sdf = safeFrame(df)
    val aggs = profileAggs(df) ++ (if (withDeps) depAggs(names.length) else Nil)
    val row = sdf.agg(aggs.head, aggs.tail: _*).collect()(0)
    val enums = enumPass(sdf, candidateIdx(row, fields, enumMaxDistinct))
    val rows = parseProfile(row, fields, enums, enumMaxDistinct)
    val deps =
      if (!withDeps) Nil
      else {
        val requiredCols = rows.filter(_.getBoolean(3)).map(_.getString(0)).toSet
        parseDeps(row, names)
          .filter(r => r.getBoolean(4) && !requiredCols.contains(r.getString(1)))
          .map(r => (r.getString(0), r.getString(1)))
      }
    renderSchemaJson(rows, id, deps)
  }

  /** Key-candidate suggestion: for each candidate column set, decide
    * whether it is a PRIMARY KEY of the table — no null components and
    * no duplicate key values — the uniqueness-suggestion primitive
    * (the chosen key then feeds the gated `uniq_duplicates` audit).
    *
    * Output per candidate: `(key_cols, n_rows, null_rows, is_key)`.
    * `is_key` is EXACT:
    *
    *  - pass 1 is one wide agg (total, per-candidate null-component
    *    rows, per-candidate default-precision HLL over the 8-byte
    *    `xxhash64` of the key — measured 10x cheaper than an
    *    rsd-0.01 HLL on the value struct, whose per-row register cost
    *    dominated the whole operator). Candidates whose HLL estimate
    *    falls below `0.5 * non-null rows` are settled false without
    *    an exact pass — at rsd 0.05 a 50% under-read of a true key is
    *    a 10-sigma event (the same unreachable margin the old
    *    0.9-at-rsd-0.01 rule had; the looser prune just sends more
    *    borderline candidates to the now-cheap hash probe).
    *  - surviving candidates pay an exact duplicate probe, submitted
    *    CONCURRENTLY so the scheduler overlaps them. The probe is
    *    hash-prefiltered (guide §2.3/§8 — decide with small rows):
    *    stage 1 groups the 8-byte `xxhash64(key)` — the exchange
    *    carries hashes, never the key payload (the old probe shuffled
    *    the full key columns, text included: corpus-sized bytes at
    *    100 TB just to confirm a key). No duplicated hash ⇒ no
    *    duplicated key (equal keys hash equal) ⇒ `is_key` settles
    *    true with zero payload movement. Otherwise stage 2 confirms
    *    exactly on the hash-colliding groups only: a broadcast
    *    semi-join against the (checkpointed, tiny) duplicated-hash
    *    set filters the scan map-side, so the exact `groupBy(cols)`
    *    shuffles only duplicate-suspect rows. If the duplicated-hash
    *    set is too large to broadcast the semi-join degrades to a
    *    shuffle — at that point the candidate is overwhelmingly a
    *    real non-key and the confirm ends at the first duplicate.
    */
  private val MaxBroadcastDupHashes = 4000000L // 8 B/row -> ~32 MB broadcast

  def suggestKeys(df: DataFrame, candidates: Seq[Seq[String]]): DataFrame = {
    require(candidates.nonEmpty, "need at least one candidate column set")
    candidates.flatten.foreach(c => require(df.columns.contains(c),
      s"candidate column '$c' not in ${df.columns.mkString(",")}"))
    val spark = df.sparkSession
    val idx = df.columns.zipWithIndex.toMap // safe-frame positions (dot-proof)
    val sdf = safeFrame(df)
    def safeCols(cs: Seq[String]) = cs.map(c => col(s"__c${idx(c)}"))
    def keyHash(cs: Seq[String]) = xxhash64(safeCols(cs): _*)
    val aggs = count(lit(1)).as("__total") +: candidates.zipWithIndex.flatMap { case (cs, i) =>
      val anyNull = safeCols(cs).map(_.isNull).reduce(_ || _)
      Seq(sum(anyNull.cast("long")).as(s"__nulls_$i"),
        approx_count_distinct(keyHash(cs)).as(s"__hll_$i"))
    }
    val row = sdf.agg(aggs.head, aggs.tail: _*).collect()(0)
    val total = row.getAs[Long]("__total")
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val verdicts: Seq[Future[(Seq[String], Long, Boolean)]] =
      candidates.zipWithIndex.map { case (cs, i) =>
        val nulls = row.getAs[Long](s"__nulls_$i")
        val couldBeKey = total > 0L && nulls == 0L &&
          row.getAs[Long](s"__hll_$i") >= (total - nulls) / 2L
        if (!couldBeKey) Future.successful((cs, nulls, false))
        else Future { // exact probe, survivors only, jobs overlap
          val dupHashes = sdf.select(keyHash(cs).as("__h"))
            .groupBy("__h").agg(count(lit(1)).as("__n"))
            .filter(col("__n") > 1L).select("__h")
            .localCheckpoint(eager = false) // tiny; the count below materializes it
          try {
            val nDup = dupHashes.count()
            val isKey = nDup == 0L || {
              val hashes =
                if (nDup <= MaxBroadcastDupHashes) broadcast(dupHashes) else dupHashes
              sdf.withColumn("__h", keyHash(cs))
                .join(hashes, Seq("__h"), "left_semi")
                .groupBy(safeCols(cs): _*).agg(count(lit(1)).as("__n"))
                .filter(col("__n") > 1L).isEmpty
            }
            (cs, nulls, isKey)
          } finally org.apache.spark.sql.GraftSqlBridge.unpersistCheckpoint(dupHashes)
        }
      }
    val out = verdicts.map(f =>
      Await.result(f, scala.concurrent.duration.Duration.Inf)).map {
      case (cs, nulls, isKey) => Row(cs.mkString(","), total, nulls, isKey)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(out, 1), StructType(Seq(
      StructField("key_cols", StringType, nullable = false),
      StructField("n_rows", LongType, nullable = false),
      StructField("null_rows", LongType, nullable = false),
      StructField("is_key", BooleanType, nullable = false))))
  }

  /** CONSTRAINT drift: the schema-level companion to the histogram
    * drift statistics (KL/PSI/JSD say the value distribution moved;
    * this says the CONTRACT moved). Diffs two inferred constraint sets
    * — a baseline snapshot vs the current table — into one row per
    * column:
    *
    *  - `status`: `added` / `removed` / `ok` (column set drift)
    *  - `type_changed`: the inferred json type differs
    *  - `nullability_regressed`: baseline was null-free, current has
    *    nulls — the drift that silently breaks `required`
    *  - `bounds_widened`: current min/max (numeric or length) escapes
    *    the baseline envelope — rows the baseline-inferred schema would
    *    flag
    *  - `new_enum_vals`: values in the current enum absent from the
    *    baseline enum (sorted, [[EnumSep]]-joined; null when either side
    *    has no enum)
    *  - `enum_exploded`: baseline had an enum, current cardinality blew
    *    past the threshold — a categorical column went free-form
    *
    * Scale shape: two [[inferConstraints]] passes (each one wide agg +
    * one bounded enum scan); the diff joins two |columns|-row frames —
    * driver-sized, never data-sized.
    */
  def constraintDrift(baseline: DataFrame, current: DataFrame,
                      enumMaxDistinct: Int = 16): DataFrame = {
    // the two profiles are independent read-only job chains — submit
    // them concurrently so the scheduler overlaps their stages (the
    // suggestKeys probe precedent; serialized they are strictly
    // additive: profile+enum for baseline, then again for current)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val bF = Future(inferConstraints(baseline, enumMaxDistinct))
    val cF = Future(inferConstraints(current, enumMaxDistinct))
    val b = Await.result(bF, scala.concurrent.duration.Duration.Inf)
      .select(col("column"), col("json_type").as("b_type"), col("format").as("b_fmt"),
        col("required").as("b_req"),
        col("min_num").as("b_min"), col("max_num").as("b_max"),
        col("min_len").as("b_minlen"), col("max_len").as("b_maxlen"),
        col("enum_vals").as("b_enum"), col("pattern").as("b_pat"))
    val c = Await.result(cF, scala.concurrent.duration.Duration.Inf)
      .select(col("column"), col("json_type").as("c_type"), col("format").as("c_fmt"),
        col("required").as("c_req"),
        col("min_num").as("c_min"), col("max_num").as("c_max"),
        col("min_len").as("c_minlen"), col("max_len").as("c_maxlen"),
        col("enum_vals").as("c_enum"), col("pattern").as("c_pat"))
    val j = b.join(c, Seq("column"), "full_outer")
    val inB = col("b_type").isNotNull
    val inC = col("c_type").isNotNull
    val both = inB && inC
    def widened(lo: String, hi: String) =
      (col(s"c_$lo").isNotNull && col(s"b_$lo").isNotNull && col(s"c_$lo") < col(s"b_$lo")) ||
      (col(s"c_$hi").isNotNull && col(s"b_$hi").isNotNull && col(s"c_$hi") > col(s"b_$hi"))
    val newEnum = array_join(sort_array(array_except(
      split(col("c_enum"), EnumSep), split(col("b_enum"), EnumSep))), EnumSep)
    j.select(
      col("column"),
      when(!inB, lit("added")).when(!inC, lit("removed")).otherwise(lit("ok")).as("status"),
      // format is part of the inferred type: timestamp->free-string drift
      // (json_type "string" both sides, format date-time -> null) is a
      // type change, not silence
      (both && (col("b_type") =!= col("c_type") ||
        coalesce(col("b_fmt"), lit("")) =!= coalesce(col("c_fmt"), lit("")))).as("type_changed"),
      (both && col("b_req") && !col("c_req")).as("nullability_regressed"),
      (both && (widened("min", "max") || widened("minlen", "maxlen"))).as("bounds_widened"),
      when(both && col("b_enum").isNotNull && col("c_enum").isNotNull && newEnum =!= "", newEnum)
        .as("new_enum_vals"),
      (both && col("b_enum").isNotNull && col("c_enum").isNull).as("enum_exploded"),
      // the baseline pattern constraint no longer holds (or tightened/
      // appeared) — same blindness class as the format fix above
      (both && !(col("b_pat") <=> col("c_pat"))).as("pattern_changed"))
  }
}
