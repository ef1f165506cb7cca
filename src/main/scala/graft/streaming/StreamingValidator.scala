package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.compile.TableSchema
import graft.exprs.Validator
import graft.model.Violation

/** Structured-Streaming validation: the SAME compiled constraint plan
  * the batch engine runs (pure select/filter/explode — no
  * batch-only operators), applied to `readStream` sources, plus the two
  * genuinely streaming concerns:
  *
  *  - watermarked windowed violation-rate metrics (event-time windows
  *    on `ts`, late data bounded by the watermark);
  *  - stateful per-conversation uniqueness/ordering via
  *    `flatMapGroupsWithState` — the streaming analogue of the batch
  *    `(conv_id, turn_idx)` uniqueness operator: state is the set-free
  *    high-watermark of turn indexes seen per conversation, with event
  *    -time timeout so state size is bounded by *active* conversations,
  *    not history (the knob that keeps this viable at 10^12 turns).
  */
object StreamingValidator {

  final case class Turn(conv_id: String, turn_idx: Int, role: String,
                        text: String, tool: String, ts: Timestamp)

  /** Per-row violations on a streaming DataFrame — identical plan to the
    * batch path (append-mode friendly: stateless projection).
    */
  def violations(stream: DataFrame, schema: TableSchema): Dataset[Violation] =
    Validator.validateTranscripts(stream, schema)

  /** Windowed violation counts by constraint: event-time tumbling
    * windows over the violation stream, joined back to the row's `ts`.
    */
  def violationRates(stream: DataFrame, schema: TableSchema,
                     windowLength: String = "1 minute",
                     watermark: String = "5 minutes"): DataFrame = {
    // one definition of "row is valid" for batch and streaming — a
    // divergence here would make the two planes disagree on the metric
    val anyViolation = !Validator.validFlag(stream, schema)
    stream
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength))
      .agg(
        count(lit(1)).as("rows"),
        sum(when(anyViolation, 1L).otherwise(0L)).as("violating_rows"))
  }

  /** Streaming exact dedup: keep only the FIRST document seen per
    * content fingerprint, with state bounded by the watermark horizon
    * (`dropDuplicatesWithinWatermark` evicts a fingerprint once the
    * watermark passes its event time). Exact-within-horizon is the
    * honest streaming trade — unbounded-history exact dedup is the
    * batch job ([[graft.pipeline.Dedup.exactSurvivors]]); a pipeline
    * runs this on the live stream and reconciles with the batch
    * survivors at compaction time.
    */
  def firstSeenByContent(stream: DataFrame, textCol: String = "text",
                         tsCol: String = "ts",
                         watermark: String = "10 minutes"): DataFrame = {
    val wm = stream.withWatermark(tsCol, watermark)
    val deduped = wm
      .filter(col(textCol).isNotNull)
      .withColumn("__content_hash", md5(col(textCol)))
      .dropDuplicatesWithinWatermark("__content_hash")
      .drop("__content_hash") // output schema == input schema, so the
      // survivors union cleanly with batch exactSurvivors output
    // null text carries no content to deduplicate on — md5(null) is null,
    // which would silently collapse EVERY null-text row onto the first
    // one seen; such rows pass through instead (callers wanting them
    // gone filter upstream)
    deduped.unionByName(wm.filter(col(textCol).isNull))
  }

  /** Streaming distribution drift — the north-star drift checks
    * (role/tool/text-length histograms vs a reference) on the live
    * stream: per event-time window, KL(p_window || q_baseline) and PSI
    * against a FIXED baseline histogram captured from a reference
    * snapshot (e.g. last week's table's `groupBy(bucket).count()`,
    * collected).
    *
    * The baseline's bucket set is known at plan time, so the window
    * histogram compiles to one conditional-count per bucket inside a
    * SINGLE watermarked aggregation (chained stateful aggs are not
    * available in append mode; state per window = |buckets| counters).
    * Those counts are then packed into the `h`/`pt`/`qt` row shape of
    * [[graft.stats.Drift.histogram]] (baseline keys in sorted order,
    * then the novel bucket) and scored by [[graft.stats.Drift.kl]] and
    * [[graft.stats.Drift.psi]], the batch drift math.
    * Buckets outside the baseline fold into one `<other>` bucket with
    * epsilon mass (a NEW bucket appearing in production is exactly what
    * drift monitoring must flag, not drop).
    */
  def driftRates(stream: DataFrame, baseline: Map[String, Long], bucket: Column,
                 windowLength: String = "1 minute", watermark: String = "5 minutes",
                 tsCol: String = "ts"): DataFrame = {
    require(baseline.nonEmpty && baseline.values.sum > 0, "empty baseline histogram")
    // null bucket values are folded into the "<null>" sentinel below; a
    // baseline that legitimately contains that string as a key would
    // silently merge real nulls into it, skewing KL/PSI for that bucket
    require(!baseline.contains("<null>"),
      "baseline key \"<null>\" collides with the null-bucket sentinel; rename it")
    val keys = baseline.keySet.toSeq.sorted
    val b = coalesce(bucket.cast("string"), lit("<null>"))
    // INDEX-based aggregate names: a raw bucket value in a column name
    // would break col() on '.' (multipart parse) and a bucket literally
    // named "other" would collide with the overflow counter
    val counted = stream
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLength))
      .agg(
        count(lit(1)).as("n"),
        (keys.zipWithIndex.map { case (k, i) =>
          sum(when(b === k, 1L).otherwise(0L)).as(s"__c_$i")
        } :+
          sum(when(!b.isin(keys.map(lit): _*), 1L).otherwise(0L)).as("__c_novel")): _*)
    def slot(name: String, pc: Column, qc: Long): Column =
      struct(lit(name).as("bucket"), pc.as("pc"), lit(qc).as("qc"))
    counted
      .select(col("window"), col("n"),
        array((keys.zipWithIndex.map { case (k, i) => slot(k, col(s"__c_$i"), baseline(k)) } :+
          slot("<other>", col("__c_novel"), 0L)): _*).as("h"),
        col("n").as("pt"), lit(baseline.values.sum).as("qt"))
      .select(col("window"), col("n"), graft.stats.Drift.kl.as("kl"),
        graft.stats.Drift.psi.as("psi"))
  }

  /** Streaming constraint-envelope drift — the LIVE companion to
    * [[graft.stats.SchemaInfer.constraintDrift]]: per event-time
    * window, counts of rows escaping a broadcast baseline constraint
    * envelope ([[graft.stats.SchemaInfer.inferConstraints]] rows,
    * collected once driver-side): numeric/timestamp values below the
    * baseline minimum or above the maximum, string lengths outside the
    * length bounds, nulls arriving in a required column, and values
    * outside the baseline enum (the "operator role influx" alarm).
    *
    * One windowed aggregation; every threshold is a LITERAL folded into
    * map-side conditional sums — nothing joins, state is one row per
    * open window bounded by the watermark. Emits only (window, column)
    * pairs with at least one escape. Works identically on a batch
    * frame (window + agg are batch operators; the watermark is a
    * no-op), which is what the batch-parity spec pins.
    */
  def boundsDriftByWindow(stream: DataFrame, baseline: Seq[org.apache.spark.sql.Row],
                          windowLength: String = "10 minutes",
                          watermark: String = "10 minutes",
                          tsCol: String = "ts"): DataFrame = {
    require(baseline.nonEmpty, "empty baseline constraint set")
    val present = stream.columns.toSet
    val tracked = baseline.filter(r => present.contains(r.getString(0)))
    require(tracked.nonEmpty, "no baseline column present in the stream")
    // positional safe frame (the SchemaInfer idiom): baseline column
    // names interpolated into col()/aliases broke on dots or backticks
    // (ADVICE r6) — all references below are index-keyed, original
    // names appear only as output literals
    val posOf = stream.columns.zipWithIndex.toMap
    val sdf = stream.toDF(stream.columns.indices.map(i => s"__c$i"): _*)
    val tsSafe = s"__c${posOf(tsCol)}"
    val aggs = tracked.flatMap { r =>
      val name = r.getString(0)
      val fmt = Option(r.getString(2))
      val required = r.getBoolean(3)
      val c = col(s"__c${posOf(name)}")
      // the comparable value under the baseline's bound semantics
      val v: Column = (r.getString(1), fmt) match {
        case (_, Some("date-time")) => unix_micros(c.cast("timestamp")).cast("double")
        case ("integer", _) | ("number", _) => c.cast("double")
        case _ => lit(null).cast("double")
      }
      val len: Column =
        if (r.getString(1) == "string" && fmt.isEmpty) length(c).cast("long")
        else lit(null).cast("long")
      def cnt(cond: Column, suffix: String) =
        sum(when(cond, 1L).otherwise(0L)).as(s"__${posOf(name)}__$suffix")
      val below =
        (if (r.isNullAt(4)) lit(false) else v < lit(r.getDouble(4))) ||
        (if (r.isNullAt(6)) lit(false) else len < lit(r.getLong(6)))
      val above =
        (if (r.isNullAt(5)) lit(false) else v > lit(r.getDouble(5))) ||
        (if (r.isNullAt(7)) lit(false) else len > lit(r.getLong(7)))
      val novel: Column = Option(r.getString(8)) match {
        case Some(enumSet) =>
          c.isNotNull && !c.cast("string").isin(
            enumSet.split(graft.stats.SchemaInfer.EnumSep, -1).toSeq.map(lit): _*)
        case None => lit(false)
      }
      Seq(cnt(below, "below"), cnt(above, "above"),
        cnt(if (required) c.isNull else lit(false), "nulls"),
        cnt(novel, "novel"))
    }
    val windowed = sdf
      .withWatermark(tsSafe, watermark)
      .groupBy(window(col(tsSafe), windowLength))
      .agg(aggs.head, aggs.tail: _*)
    val reports = tracked.map { r =>
      val name = r.getString(0)
      val i = posOf(name)
      struct(lit(name).as("column"),
        col(s"__${i}__below").as("below_bounds"),
        col(s"__${i}__above").as("above_bounds"),
        col(s"__${i}__nulls").as("null_required"),
        col(s"__${i}__novel").as("novel_enum"))
    }
    windowed
      .select(col("window.start").as("window_start"), explode(array(reports: _*)).as("r"))
      .select(col("window_start"), col("r.*"))
      .filter(col("below_bounds") + col("above_bounds") +
        col("null_required") + col("novel_enum") > 0L)
  }

  /** Streaming near-duplicate pairs within the watermark horizon — the
    * stream analogue of [[graft.pipeline.Dedup.minhashPairs]]:
    *
    *  - the k MinHash values are computed PER ROW with scalar array
    *    expressions (`array_min(transform(shingles, xxhash64(_, seed)))`
    *    — numerically identical to the batch explode+min-agg form, but
    *    STATELESS, so the only stateful operator is the join);
    *  - band bucket keys use the same `hash(m_i..)` as batch, so a
    *    stream pair collides exactly when the batch pipeline would
    *    bucket it together;
    *  - the self-join is bounded by the watermark plus an event-time
    *    range (`|ts_a - ts_b| <= horizon`), which is what makes join
    *    state evictable — the honest streaming trade, same as
    *    [[firstSeenByContent]]: pairs farther apart than the horizon
    *    are the batch reconciliation's job;
    *  - candidates are exact-verified by shingle Jaccard scalar-side,
    *    so emitted pairs carry the true score, not an LSH guess.
    *
    * A pair colliding in several bands would be emitted once per band;
    * instead of a second stateful operator (dedup after a stream-stream
    * join is unsupported territory), both sides carry their band-hash
    * arrays through the join and a pair is kept only on its FIRST
    * colliding band — stateless, exact, and the join remains the only
    * stateful operator in the plan. Unlike batch there is no bucket cap
    * (capping needs a count aggregation — more state); the horizon
    * itself bounds bucket population, and hot-content storms within a
    * horizon are a monitoring concern, not a correctness one — made
    * MEASURABLE by the per-trigger "neardup_candidates" observe()
    * metric below (candidate pairs grow ~quadratically in the hottest
    * bucket's population, so a storm is unmissable in query progress).
    */
  def nearDupPairsWithinHorizon(stream: DataFrame, textCol: String = "text",
                                idCol: String = "doc_id", tsCol: String = "ts",
                                watermark: String = "10 minutes",
                                horizon: String = "10 minutes",
                                k: Int = 16, bands: Int = 4,
                                threshold: Double = 0.7, shingleN: Int = 3): DataFrame = {
    require(k % bands == 0, "k must divide into bands")
    val rpb = k / bands
    val withSig = stream
      .filter(col(textCol).isNotNull)
      .withWatermark(tsCol, watermark)
      .withColumn("__sh", graft.pipeline.Dedup.shingles(col(textCol), shingleN))
      .withColumn("__ms", array((0 until k).map(seed =>
        array_min(transform(col("__sh"), s => xxhash64(s, lit(seed))))): _*))
    val bandVals = (0 until bands).map { b =>
      hash((b * rpb until (b + 1) * rpb).map(i => col("__ms").getItem(i)): _*)
    }
    val banded = withSig
      .withColumn("__bands", array(bandVals: _*))
      .select(col(idCol), col(tsCol), col("__sh"), col("__bands"),
        posexplode(col("__bands")).as(Seq("band", "bandHash")))
    val a = banded.select(col("band"), col("bandHash"), col(idCol).as("id_a"),
      col(tsCol).as("ts_a"), col("__sh").as("sh_a"), col("__bands").as("bands_a"))
    val b = banded.select(col("band").as("band_b"), col("bandHash").as("bandHash_b"),
      col(idCol).as("id_b"), col(tsCol).as("ts_b"), col("__sh").as("sh_b"),
      col("__bands").as("bands_b"))
    // first colliding band of the pair, computed scalar-side from both
    // band arrays (array_min skips nulls): keeps exactly one of the
    // up-to-`bands` join rows per pair with no extra state
    val firstCollidingBand = array_min(
      transform(sequence(lit(0), lit(bands - 1)), i =>
        when(element_at(col("bands_a"), i + 1) === element_at(col("bands_b"), i + 1), i)))
    // `id_a < id_b` must stay OUT of the join condition: Spark's
    // streaming-join state-watermark inference linearizes every
    // cross-side inequality and internal-errors on non-time attributes.
    // A plain Column filter gets PUSHED BACK into the join condition by
    // PushPredicateThroughJoin (same crash), so the orientation bit is
    // projected into a boolean and applied through a typed filter —
    // opaque to the optimizer, it stays above the join.
    a.join(b,
        col("band") === col("band_b") && col("bandHash") === col("bandHash_b") &&
          col("ts_b") >= col("ts_a") - expr(s"INTERVAL $horizon") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $horizon"))
      .withColumn("__oriented", col("id_a") < col("id_b"))
      .filter((r: org.apache.spark.sql.Row) => r.getAs[Boolean]("__oriented"))
      .drop("__oriented")
      .filter(col("band") === firstCollidingBand)
      // Hot-bucket visibility (the in-stream analogue of batch
      // capBuckets' observe() drop metrics): there is no bucket cap
      // within the horizon, so a hot-content storm — N near-identical
      // docs in one horizon — surfaces as ~N²/2 candidate pairs. This
      // per-trigger count (exact-verify input size) is the metric an
      // operator alarms on; it lands in every QueryProgressEvent's
      // observedMetrics under "neardup_candidates".
      .observe("neardup_candidates", count(lit(1)).as("candidate_pairs"))
      .withColumn("jaccard", graft.pipeline.Dedup.jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      // later of the two event times = when the pair became knowable
      .select(col("id_a"), col("id_b"), col("jaccard"),
        greatest(col("ts_a"), col("ts_b")).as("pair_ts"))
  }

  /** maxTsMillis is the conversation's event-time high-watermark: the
    * state timeout must be anchored on it, not on the latest BATCH's
    * max ts — a late-but-admitted row would otherwise REGRESS the
    * timeout and expire state for a still-active conversation.
    */
  final case class ConvState(maxTurnIdx: Int, maxTsMillis: Long)
  final case class OrderViolation(conv_id: String, turn_idx: Int, kind: String)

  final case class StreamEvent(key: String, event_id: Long, ts: Timestamp)
  final case class DimUpdate(key: String, ts: Timestamp, seq: Long, payload: String)
  final case class EnrichedEvent(key: String, event_id: Long, ts: Timestamp,
                                 asof_payload: String, asof_seq: Long)
  // public: Spark's generated SafeProjection cannot touch private types
  final case class AsOfEnv(key: String, ts: Timestamp, side: Int,
                           seq: Long, payload: String, event_id: Long)
  final case class AsOfState(versions: List[(Long, Long, String)], // (tsMillis, seq, payload) ts-desc
                             maxTsMillis: Long)

  /** Streaming event-time AS-OF enrichment — the live-pipeline form of
    * [[graft.pipeline.AsOf.asofJoin]]: each event is enriched with the
    * LATEST dimension update of the same key at-or-before its event
    * time (ties on ts resolve to the greatest seq, exactly the batch
    * rule). The usual agent-transcript shape: a turn/event stream
    * joined against a slowly-changing config/session dimension.
    *
    * Semantics and state bound: state per key is the dimension VERSION
    * LIST within the watermark horizon plus ONE floor version at-or-
    * below the watermark. Every admitted event has ts >= watermark, so
    * the floor + in-horizon versions answer its as-of lookup EXACTLY —
    * late events (within watermark) enrich correctly even after newer
    * dimension versions arrived. State is bounded by dimension update
    * rate within the horizon, never by history; idle keys evict after
    * `stateTimeoutMs` of event-time inactivity (same monotone
    * high-watermark anchoring as [[orderingViolations]]).
    *
    * The honest streaming trade (same class as dedup-within-horizon): a
    * dimension update arriving in a LATER micro-batch than an event it
    * precedes in event time cannot retro-enrich the already-emitted
    * event. Batch parity therefore holds when each micro-batch carries
    * the dimension updates at-or-before its events' event times — the
    * StreamingSpec mirror pins parity for single-batch and
    * dims-then-events orderings, and the late-event case.
    */
  def asofEnrich(events: Dataset[StreamEvent], dims: Dataset[DimUpdate],
                 watermark: String = "10 minutes",
                 stateTimeoutMs: Long = 30L * 60 * 1000): Dataset[EnrichedEvent] = {
    val spark = events.sparkSession
    import spark.implicits._
    val e = events.select(col("key"), col("ts"), lit(1).as("side"),
      lit(Long.MinValue).as("seq"), lit(null).cast("string").as("payload"),
      col("event_id")).as[AsOfEnv]
    val d = dims.filter(col("key").isNotNull && col("ts").isNotNull)
      .select(col("key"), col("ts"), lit(0).as("side"), col("seq"),
        col("payload"), lit(-1L).as("event_id")).as[AsOfEnv]
    e.unionByName(d)
      .withWatermark("ts", watermark)
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (key: String, rows: Iterator[AsOfEnv], state: GroupState[AsOfState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(AsOfState(Nil, Long.MinValue))
            val batch = rows.toSeq
            // ingest this batch's dimension updates first: within a
            // micro-batch, events see every dim of the same batch (the
            // batch-parity discipline)
            val newVersions = batch.filter(_.side == 0)
              .map(r => (r.ts.getTime, r.seq, r.payload))
            var versions = (newVersions.toList ++ st.versions)
              .distinct.sortBy(v => (-v._1, -v._2)) // ts desc, seq desc
            // prune: drop versions at-or-below the watermark except the
            // single newest of them (the floor — every admitted event
            // has ts >= watermark and may still need it)
            val wm = state.getCurrentWatermarkMs()
            val (inHorizon, below) = versions.partition(_._1 > wm)
            versions = inHorizon ++ below.take(1)
            val out = batch.filter(_.side == 1).map { ev =>
              // null-ts events mirror the batch rule (AsOf.asofJoin:
              // "left null-ts rows sort first and therefore see no
              // right row") — enriched with a null payload, NOT an NPE
              // that would kill the whole query on one poison row
              val hit = if (ev.ts == null) None
                        else versions.find(_._1 <= ev.ts.getTime) // first hit = latest <= t
              hit match {
                case Some((_, seq, payload)) =>
                  EnrichedEvent(key, ev.event_id, ev.ts, payload, seq)
                case None =>
                  EnrichedEvent(key, ev.event_id, ev.ts, null, -1L)
              }
            }
            val maxTs =
              (st.maxTsMillis +: batch.collect { case r if r.ts != null => r.ts.getTime }).max
            st = AsOfState(versions, maxTs)
            state.update(st)
            // a key whose first micro-batch carries only null-ts events
            // keeps maxTs at MinValue (dims filter null ts, events do
            // not) — MinValue + timeout is negative and GroupStateImpl
            // throws, killing the query on one poison key: clamp to
            // just past the current watermark so the empty state
            // expires promptly instead
            state.setTimeoutTimestamp(
              if (maxTs > Long.MinValue) maxTs + stateTimeoutMs
              else math.max(state.getCurrentWatermarkMs() + 1L, 1L))
            out.iterator
          }
        })
  }

  /** Stateful uniqueness/ordering: within each conversation, turn
    * indexes must be strictly increasing in arrival order (append-only
    * transcript streams). Emits a violation for every duplicate or
    * regressing turn index. State: one (maxTurnIdx, count) pair per
    * active conversation, dropped after `stateTimeout` of event-time
    * inactivity past the watermark.
    */
  def orderingViolations(turns: Dataset[Turn],
                         watermark: String = "10 minutes",
                         stateTimeoutMs: Long = 30L * 60 * 1000): Dataset[OrderViolation] = {
    val spark = turns.sparkSession
    import spark.implicits._
    turns
      .withWatermark("ts", watermark)
      .groupByKey(_.conv_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        (convId: String, rows: Iterator[Turn], state: GroupState[ConvState]) => {
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(ConvState(Int.MinValue, Long.MinValue))
            val out = scala.collection.mutable.ArrayBuffer.empty[OrderViolation]
            // poison rows first: a null event time cannot participate in
            // event-time ordering — emit a TYPED violation (the
            // asofEnrich poison rule: typed output, never an NPE that
            // kills the whole query on one bad row; the transcript
            // schema allows null ts)
            val (nullTs, timed) = rows.toSeq.partition(_.ts == null)
            nullTs.foreach(t => out += OrderViolation(convId, t.turn_idx, "null_ts"))
            val sorted = timed.sortBy(t => (t.ts.getTime, t.turn_idx))
            sorted.foreach { t =>
              if (t.turn_idx == st.maxTurnIdx)
                out += OrderViolation(convId, t.turn_idx, "duplicate")
              else if (t.turn_idx < st.maxTurnIdx)
                out += OrderViolation(convId, t.turn_idx, "out_of_order")
              st = ConvState(math.max(st.maxTurnIdx, t.turn_idx),
                math.max(st.maxTsMillis, t.ts.getTime))
            }
            state.update(st)
            // timeout anchored to the conversation's event-time
            // HIGH-WATERMARK (monotone): the first batches run with
            // watermark 0 (epoch), which would otherwise expire every
            // state immediately, and a late-but-admitted row must not
            // regress an already-later timeout. A conversation whose
            // rows were ALL null-ts keeps maxTs at MinValue —
            // MinValue + timeout is negative and GroupStateImpl throws
            // — clamp to just past the current watermark so the empty
            // state expires promptly instead of crashing the query
            state.setTimeoutTimestamp(
              if (st.maxTsMillis > Long.MinValue) st.maxTsMillis + stateTimeoutMs
              else math.max(state.getCurrentWatermarkMs() + 1L, 1L))
            out.iterator
          }
        })
  }
}
