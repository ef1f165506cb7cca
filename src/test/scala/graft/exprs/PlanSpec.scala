package graft.exprs

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import graft.SparkTestBase
import graft.compile.TableSchemaCompiler
import graft.integrity.Integrity

/** Physical-plan shape assertions: the properties that make the engine
  * viable at 100 TB must hold in the optimized plan, not just in prose —
  * column pruning and filter pushdown reach the parquet scan, the fused
  * validator stays shuffle-free, aggregations partially aggregate before
  * their exchange, and the registry side of the referential join can
  * broadcast.
  */
class PlanSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"
  private val schema = TableSchemaCompiler
    .compileString(graft.compile.Fixtures.flagshipSchema).toOption.get

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int =
    // executedPlan (post EnsureRequirements); AQE wraps the plan, so
    // count exchange nodes in the rendered tree
    "Exchange (hashpartitioning|rangepartitioning|SinglePartition)".r
      .findAllIn(df.queryExecution.executedPlan.toString).size

  "the fused validator plan" should "contain no exchange and one scan" in {
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val t = graft.sources.TranscriptDerive.fromLineitem(spark, sfDir)
    val plan = formatted(Validator.violations(t, schema, Seq("conv_id", "turn_idx")))
    plan should not include "Exchange"
    // derivation unions two scans of lineitem; both are scans, no joins
    plan should not include "Join"
  }

  "the validation report" should "count violations without any Generate fan-out" in {
    val t = graft.sources.TranscriptDerive.fromLineitem(spark, sfDir)
    // the capstone's violations leg is the zero-emission total: a pure
    // conditional-sum aggregate over the scan — no Generate (explode),
    // no pointer/JSON string building, map-side partial combine
    val leg = formatted(Validator.violationTotal(t, schema))
    leg should not include "Generate"
    leg should include("partial_")
    // and the full one-row report still carries no Generate anywhere
    val report = formatted(graft.SparkEntry.queries("validation_report")(spark, sfDir))
    report should not include "Generate"
  }

  "column pruning" should "reach the parquet scan (ReadSchema minimal)" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val plan = formatted(docs.select(graft.pipeline.TextOps.tokenCount(col("text")).as("n")))
    // only text read, not lang/source/n_chars
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    readSchema should include("text")
    readSchema should not include "n_chars"
    readSchema should not include "source"
  }

  "filter pushdown" should "reach the parquet scan (PushedFilters)" in {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 8)
    val plan = formatted(e)
    plan should include("PushedFilters")
    plan.linesIterator.filter(_.contains("PushedFilters")).mkString should include("LessThan(vec_id,8)")
  }

  "duplicate-key detection" should "partially aggregate before its exchange" in {
    val t = graft.sources.TranscriptDerive.fromLineitem(spark, sfDir)
    val df = Integrity.duplicateKeys(t, Seq("conv_id", "turn_idx"))
    val plan = formatted(df)
    // partial -> exchange -> final: the map-side combine that bounds skew
    plan should include("HashAggregate")
    shuffleCount(df) shouldBe 1 // exactly one shuffle
  }

  "the referential check" should "broadcast a small registry when asked" in {
    val t = graft.sources.TranscriptDerive.fromLineitem(spark, sfDir)
    val reg = t.filter(col("turn_idx") === 0).select("conv_id").distinct()
    val plan = formatted(Integrity.orphans(t, reg, "conv_id", broadcastRegistry = true))
    plan should include("BroadcastHashJoin")
    plan should include("LeftAnti")
  }

  "the stats profile" should "be a single aggregation over one scan" in {
    val t = graft.sources.TranscriptDerive.fromLineitem(spark, sfDir)
    val df = graft.stats.Stats.profileLong(t, Seq("conv_id", "turn_idx", "role"))
    // one partial + one final aggregate, single exchange
    shuffleCount(df) shouldBe 1
  }

  "ANN top-k ranking" should "be a partial-aggregating bounded heap, not a window" in {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val bf = graft.pipeline.Ann.bruteForceTopK(
      e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8), 10)
    val ivf = graft.pipeline.Ann.ivfTopK(
      e.filter(col("vec_id") < 8), e.filter(col("vec_id") >= 8),
      e.filter(col("vec_id") % 97 === 0), k = 10, nprobe = 2)
    for (df <- Seq(bf, ivf)) {
      val plan = df.queryExecution.executedPlan.toString
      // no global per-query sort of the full scored set
      plan should not include "Window"
      // the typed aggregator partial-aggregates map-side before its
      // exchange, so the shuffle carries <= k rows per query per task
      plan should include("ObjectHashAggregate")
      plan should include("partial_topkaggregator") // map-side phase present
    }
  }

  "IVF centroid assignment" should "shuffle only (id, centroid) pairs, not embeddings" in {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val assigned = graft.pipeline.Ann.assignToCentroids(
      e.filter(col("vec_id") >= 8), e.filter(col("vec_id") % 97 === 0))
    val plan = formatted(assigned)
    // the argmin aggregate output is narrow; the embedding payload is
    // re-attached by a join (broadcastable assignment), never aggregated
    plan should not include "first(embedding"
    assigned.columns.toSet shouldBe Set("vec_id", "embedding", "centroid_id")
  }

  "deterministic sampling" should "be a pure scan-filter: no exchange, no join" in {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    for (df <- Seq(
      graft.pipeline.Sampling.hashSampleMd5(d, 0.2, "doc_id"),
      graft.pipeline.Sampling.stratifiedSampleMd5(d, "doc_id", "lang",
        Map("en" -> 0.5), defaultRate = 0.05))) {
      shuffleCount(df) shouldBe 0
      formatted(df) should not include "Join"
    }
  }

  "benchmark decontamination" should "broadcast the benchmark grams, not shuffle the corpus" in {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.pipeline.TextOps.contaminationHits(
      d, d.filter(col("doc_id") % 13 === 1), n = 8)
    val plan = formatted(df)
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
    // three exchanges, none over corpus grams: the benchmark distinct
    // (tiny), then the two-phase count-distinct rewrite on (doc, gram)
    // and doc — both AFTER the broadcast join has filtered the corpus
    // side down to benchmark-matching grams only
    shuffleCount(df) shouldBe 3
  }

  "top-token share" should "partially aggregate both levels before their exchanges" in {
    val d = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.pipeline.TextOps.topTokenShare(d)
    val plan = formatted(df)
    plan should include("HashAggregate")
    plan should not include "Window"
    shuffleCount(df) shouldBe 2 // (id, token) then id
  }

  "conversation structure" should "reuse the window's hash partitioning for the final agg" in {
    val t = graft.sources.TranscriptDerive.fromLineitem(spark, sfDir)
    val df = graft.pipeline.Conversations.structureStats(t, 30L * 24 * 3600)
    // windows are conversation-partitioned (never single-partition) and
    // the groupBy(conv_id) is satisfied by the window's exchange
    formatted(df) should not include "SinglePartition"
    shuffleCount(df) shouldBe 1
  }

  "as-of join" should "shuffle once on the key with a key-partitioned window, no cross product" in {
    val df = graft.SparkEntry.queries("asof_join")(spark, sfDir)
    // the union-and-carry-forward form: ONE hash exchange on user_id
    // feeding a key-partitioned running window — never the naive
    // theta-join's per-key cross product, never a global sort
    shuffleCount(df) shouldBe 1
    val plan = formatted(df)
    plan should not include "SinglePartition"
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  "bm25" should "prune the corpus to query terms before any exchange, no window" in {
    val df = graft.SparkEntry.queries("bm25_topk")(spark, sfDir)
    val plan = formatted(df)
    plan should not include "Window"
    // the isin prune runs in the scan-side stage: the Filter on the
    // exploded tokens appears (generate feeds a filter), and no
    // CartesianProduct materializes (the one-row stats join broadcasts)
    plan should include("Generate")
    plan should not include "CartesianProduct"
    // top-N never materializes a global sort: TakeOrdered does the limit
    plan should include("TakeOrderedAndProject")
  }

  "per-group top-k and reservoir" should "partial-aggregate map-side, never a window" in {
    val vocab = graft.SparkEntry.queries("vocab_bygroup")(spark, sfDir)
    val vplan = vocab.queryExecution.executedPlan.toString
    vplan should not include "Window"
    // the bounded-heap aggregator partial-aggregates before its exchange
    vplan should include("partial_topkaggregator")
    val res = graft.SparkEntry.queries("reservoir_bygroup")(spark, sfDir)
    val rplan = formatted(res)
    rplan should not include "Window"
    // winner ids come back as a broadcast LEFT SEMI: full rows never shuffle
    rplan should include("BroadcastHashJoin")
    rplan should include("LeftSemi")
  }

  "cohort retention" should "run join-free with one user-keyed exchange plus the report agg" in {
    val df = graft.SparkEntry.queries("retention_cohorts")(spark, sfDir)
    val plan = formatted(df)
    plan should not include "Join"
    plan should not include "Window"
    // user-keyed collect_set exchange + the (cohort, offset) count agg
    shuffleCount(df) shouldBe 2
  }

  "funnel conversion" should "carry only (user, min-ts) stage tables, no window" in {
    val df = graft.SparkEntry.queries("funnel_conversion")(spark, sfDir)
    val plan = formatted(df)
    plan should not include "Window"
    plan should not include "CartesianProduct" // stage-count crossjoins broadcast one-row sides
  }

  "conv digest" should "reuse the window's conv partitioning: one exchange total" in {
    val df = graft.SparkEntry.queries("conv_digest")(spark, sfDir)
    // window and per-conv agg share the conv_id hash partitioning
    shuffleCount(df) shouldBe 1
    formatted(df) should not include "CartesianProduct"
  }

  "pmi collocations" should "take its top-N without a global sort" in {
    val df = graft.SparkEntry.queries("pmi_bigrams")(spark, sfDir)
    val plan = formatted(df)
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
    plan should not include "Window"
  }

  "whole-stage codegen" should "cover the validator projection" in {
    val t = graft.sources.TranscriptDerive.fromLineitem(spark, sfDir)
    val exec = Validator.violations(t, schema, Seq("conv_id", "turn_idx")).queryExecution.executedPlan
    exec.toString should include("*(") // WholeStageCodegen spans present
    // no interpreted higher-order functions in the hot path
    exec.toString.toLowerCase should not include "arrayfilter"
  }

  it should "leave no CodegenFallback expression in the array/map validation plans" in {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    // the exact schemas the v_arrays / v_maps / v_structs / v_array_oneof
    // gate queries compile (element checks previously ran on interpreted
    // HOF lambdas; ForAllExpr keeps them inside codegen)
    val dirty = graft.sources.DirtyDerive.fromLineitem(spark, sfDir)
    for (q <- Seq("v_arrays", "v_maps", "v_structs", "v_array_oneof")) {
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      // sparkPlan, NOT executedPlan: under AQE the executedPlan of an
      // unexecuted query is an opaque AdaptiveSparkPlanExec with ZERO
      // children, so traversing it finds no expressions and the
      // assertion passes vacuously (round-5 find — the round-4 form of
      // this test pinned nothing)
      val fallbacks = df.queryExecution.sparkPlan.flatMap(_.expressions)
        .flatMap(_.collect { case e: CodegenFallback => e })
      // round 4: INCLUDING the `actual` renderer — JsonRender replaced
      // to_json, so the whole emission plan is codegen, no exclusions
      withClue(s"$q fallbacks: ${fallbacks.map(_.prettyName).distinct}: ")(
        fallbacks shouldBe empty)
    }
    dirty.columns should contain("tags") // the fixture actually carries the arrays
  }

  it should "keep boilerplate removal window-free with a census anti-join (round 5)" in {
    val plan = graft.SparkEntry.queries("boilerplate_removal")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    plan should include("LeftAnti")              // removal = anti-join vs the hot set
    plan should not include "Window"             // reassembly sorts IN-group, no window
    plan should include("partial_collect_list")  // map-side combine before the exchange
  }

  it should "leave no CodegenFallback in the int8 quantization plan (round 5)" in {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    // the PRODUCTION operator plan (the embed_quantize gate query wraps
    // it in a zip_with/aggregate bound-check harness that is gate-only
    // arithmetic); quantizeInt8 previously ran four interpreted HOF
    // passes — the codegen kernel must keep it fallback-free
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val df = graft.pipeline.Ann.quantizeInt8(e)
    val fallbacks = df.queryExecution.sparkPlan.flatMap(_.expressions)
      .flatMap(_.collect { case e: CodegenFallback => e })
    withClue(s"fallbacks: ${fallbacks.map(_.prettyName).distinct}: ")(
      fallbacks shouldBe empty)
  }

  it should "keep span dedup window-free: coverage anti-join + in-group reassembly (round 5)" in {
    val plan = graft.SparkEntry.queries("dup_span_removal")(spark, sfDir)
      .queryExecution.sparkPlan.toString
    plan should include("LeftAnti")             // removal = anti-join vs covered positions
    plan should not include "Window"            // reassembly sorts IN-group, no window
    plan should include("partial_collect_list") // map-side combine before the exchange
  }

  it should "tokenize once in the unigram LM score (grouped agg reused by LM and probe) (round 5)" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.pipeline.TextOps.unigramLogProb(docs)
    df.collect() // reuse materializes at runtime under AQE (stage reuse)
    val plan = df.queryExecution.executedPlan.toString
    withClue(s"plan:\n$plan\n")(
      plan should include regex "ReusedExchange|ReusedQueryStage|TableCacheQueryStage")
  }

  it should "tokenize once in BPE vocab-apply: one scan, two exchanges, no join (round 5)" in {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.pipeline.TextOps.bpeTokenCounts(docs, Seq(("e", "</w>"), ("t", "h")))
    val plan = df.queryExecution.executedPlan.toString
    withClue(s"plan:\n$plan\n") {
      plan should not include "Join"                                      // cascade projects over the agg, no census join
      "Scan parquet".r.findAllIn(plan).size shouldBe 1                    // one tokenize
      shuffleCount(df) shouldBe 2                                         // (doc,word) pairs, then per-doc sum
      plan should include("partial_count")                                // map-side combine before the pair shuffle
    }
  }

  "the LSH signature pass" should "be one map-only projection: no Generate, Exchange or HashAggregate" in {
    val pool = graft.gates.Inputs.dedupPool(spark, sfDir)
    val sig = graft.pipeline.Dedup.minhashSigTable(pool, "text", "doc_id", 24)
    val nodes = sig.queryExecution.sparkPlan.collect { case p => p.nodeName }
    withClue(s"nodes: ${nodes.distinct}: ") {
      nodes.filter(n => n.contains("Generate") || n.contains("Exchange") || n.contains("HashAggregate")) shouldBe empty
    }
    shuffleCount(sig) shouldBe 0
  }

  it should "leave no CodegenFallback in the minhash_pairs, ngram_jaccard and text_repetition plans" in {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    for (q <- Seq("minhash_pairs", "ngram_jaccard", "text_repetition")) {
      // sparkPlan, not executedPlan: see the v_arrays case above
      val fallbacks = graft.SparkEntry.queries(q)(spark, sfDir).queryExecution.sparkPlan
        .flatMap(_.expressions).flatMap(_.collect { case e: CodegenFallback => e })
      withClue(s"$q fallbacks: ${fallbacks.map(_.prettyName).distinct}: ")(fallbacks shouldBe empty)
    }
  }
}
