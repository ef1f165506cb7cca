package clibench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import graft.checkpoint.Checkpoint
import graft.compile.TableSchemaCompiler
import graft.exprs.{ConstraintCompiler, Validator}
import graft.integrity.Integrity
import graft.pipeline.Dedup
import graft.stats.Stats

/** The traced run: the operator's call sequence with a span around each
  * call into a module's public functions, plus measurement-only scans.
  *
  *   TracedRun table <schema.json> <parquet-dir> <outDir> <spans.json>
  *   TracedRun dedup <parquet-dir> <outDir> <spans.json>
  *
  * `table` mirrors `graft.cli.ValidateTableMain.main` and `dedup`
  * mirrors [[DedupMain]]; a change to either main should be copied here,
  * or `trace.coverage` drops.
  */
object TracedRun {
  def main(args: Array[String]): Unit = args match {
    case Array("table", schemaPath, inputDir, outDir, spansPath) =>
      table(schemaPath, inputDir, outDir, spansPath)
    case Array("dedup", inputDir, outDir, spansPath) =>
      dedup(inputDir, outDir, spansPath)
    case _ =>
      System.err.println("usage: TracedRun table <schema.json> <dir> <outDir> <spans.json> | dedup <dir> <outDir> <spans.json>")
      sys.exit(1)
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def table(schemaPath: String, inputDir: String, outDir: String, spansPath: String): Unit = {
    val trace = new Trace
    val schema = trace.span("compile.schema") {
      TableSchemaCompiler.compileString(Files.readString(Paths.get(schemaPath)))
        .fold(e => throw new IllegalArgumentException(e), identity)
    }
    val spark = trace.span("cli.session")(Session.cli("graft-validate"))
    trace.attach(spark)
    try {
      trace.span("cli.bind_report") {
        ConstraintCompiler.bindReport(schema, spark.read.parquet(inputDir).schema)
          .filterNot(_.status == "ok")
          .foreach(b => System.err.println(s"schema bind: ${b.column} ${b.status} (${b.detail})"))
      }
      val df = spark.read.parquet(inputDir)
      val checks = trace.span("exprs.bind", path = false) {
        ConstraintCompiler.compile(schema, df.schema).fold(e => throw new IllegalArgumentException(e), identity)
      }
      trace.count("exprs.bind", "checks" -> checks.size.toDouble)
      val keys = Seq("conv_id", "turn_idx")
      val vdf = trace.span("exprs.plan", path = false) {
        val v = Validator.violationsForChecks(df, checks, keys)
        v.queryExecution.executedPlan
        v
      }
      trace.count("exprs.plan",
        "phase_ms" -> vdf.queryExecution.tracker.phases.values.map(_.durationMs.toDouble).sum)
      // -- the operator's sequence, as in ValidateTableMain.main --
      val results = trace.span("checkpoint") {
        Checkpoint.runValidation(spark, inputDir, schema, s"$outDir/violations", s"$outDir/manifest.jsonl")
      }
      val tdf = spark.read.parquet(inputDir)
      trace.span("integrity") {
        val report = Integrity.integrityReport(tdf)
        report.duplicateKeys.write.mode("overwrite").parquet(s"$outDir/uniqueness_violations")
        Integrity.orphanRows(tdf, report.orphanConvs)
          .write.mode("overwrite").parquet(s"$outDir/referential_violations")
        report.unpersist()
      }
      trace.span("stats") {
        Stats.profileLong(tdf, tdf.columns.toSeq).write.mode("overwrite").parquet(s"$outDir/stats")
      }
      val (rowVios, nDups, nOrph) = trace.span("cli.verdict") {
        val all = Checkpoint.completedMetrics(s"$outDir/manifest.jsonl")
        (all.map(_._3).sum,
          spark.read.parquet(s"$outDir/uniqueness_violations").count(),
          spark.read.parquet(s"$outDir/referential_violations").count())
      }
      trace.count("cli.verdict", "row_violations" -> rowVios.toDouble,
        "duplicate_keys" -> nDups.toDouble, "orphan_rows" -> nOrph.toDouble,
        "units" -> results.size.toDouble)
      // measurement-only scans run after the operator's sequence, so they
      // do not warm its code paths
      trace.span("exprs.scan", path = false)(noop(vdf))
      val violating = trace.span("exprs.count", path = false) {
        df.filter(!checks.map(_.ok).reduce(_ && _)).count()
      }
      trace.count("exprs.count", "violating_rows" -> violating.toDouble)
      trace.span("sources.read", path = false)(noop(df.select(df.columns.map(col).toSeq: _*)))

      Files.writeString(Paths.get(spansPath), trace.json())
    } finally spark.stop()
  }

  private def dedup(inputDir: String, outDir: String, spansPath: String): Unit = {
    val trace = new Trace
    val spark = trace.span("cli.session")(Session.cli("clibench-dedup"))
    trace.attach(spark)
    try {
      // the exact survivors and the verified pairs are materialized once
      // each so the three calls are timed apart; DedupMain leaves them lazy
      val exact = trace.span("pipeline.exact") {
        DedupMain.exactSurvivors(spark.read.parquet(inputDir)).localCheckpoint()
      }
      val (pairs, verified) = trace.span("pipeline.minhash") {
        val p = Dedup.minhashPairs(exact, k = DedupMain.K, bands = DedupMain.Bands,
          threshold = DedupMain.Threshold)
        (p, p.localCheckpoint())
      }
      val (candidates, nVerified) = verifyCounts(pairs.queryExecution.executedPlan)
      trace.count("pipeline.minhash", "candidate_pairs" -> candidates, "verified_pairs" -> nVerified)
      val comps = trace.span("pipeline.components")(Dedup.connectedComponents(verified))
      trace.span("pipeline.survivors") {
        val losers = comps.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
        exact.join(losers, Seq("doc_id"), "left_anti").select("doc_id")
          .write.parquet(s"$outDir/survivors")
      }
      val own = Seq(exact, verified).flatMap(_.queryExecution.logical.collect { case l: LogicalRDD => l.rdd.id }).toSet
      Files.writeString(Paths.get(spansPath), trace.json("held_bytes" -> heldBytes(spark, own)))
    } finally spark.stop()
  }

  /** Block-manager storage still held, without the RDDs in `exclude`. */
  private def heldBytes(spark: SparkSession, exclude: Set[Int]): Double =
    spark.sparkContext.getRDDStorageInfo.filterNot(i => exclude(i.id))
      .map(i => i.memSize + i.diskSize).sum.toDouble

  /** (candidate pairs, verified pairs) from the SQL metrics of the
    * executed LSH plan: the rows entering and leaving the join whose
    * condition is the exact-Jaccard test over both shingle sets (the
    * optimizer folds that filter into the last join of the pairs).
    */
  private def verifyCounts(plan: SparkPlan): (Double, Double) = {
    def below(p: SparkPlan): Option[SparkPlan] = p match {
      case q: QueryStageExec => Some(q.plan)
      case _ => p.children match { case Seq(c) => Some(c); case _ => None }
    }
    def rows(p: SparkPlan): Option[Double] =
      p.metrics.get("numOutputRows").map(_.value.toDouble).orElse(below(p).flatMap(rows))
    def names(p: SparkPlan) = p.output.map(_.name).toSet
    Plans.nodes(plan).collectFirst {
      case j: BaseJoinExec if j.condition.exists(c => Set("sh_a", "sh_b").subsetOf(c.references.map(_.name).toSet)) =>
        val candidates = Seq(j.left, j.right).find(names(_).contains("sh_a")).flatMap(rows)
        (candidates.getOrElse(-1.0), j.metrics("numOutputRows").value.toDouble)
    }.getOrElse((-1.0, -1.0))
  }
}
