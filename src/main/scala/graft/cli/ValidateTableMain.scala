package graft.cli

import graft.compile.TableSchemaCompiler
import graft.checkpoint.Checkpoint
import graft.stats.Stats
import graft.integrity.Integrity

/** spark-submit entry point for a full validation run (the data-plane
  * analogue of the reference CLI `JsonSchemaValidator.scala:13-31`):
  *
  *   ValidateTableMain <schema.json> <transcripts-parquet-dir> <outDir>
  *
  * Compiles the schema, runs the resumable checkpointed validation
  * (violations parquet per unit + JSON-lines manifest with per-unit
  * lineage/metrics), runs the shuffling integrity checks and the stats
  * profile, prints `valid table at …` / `invalid table at …`, and exits
  * 0 (clean) / 2 (violations) / 1 (usage or compile error) — mirroring
  * the reference's valid/invalid/usage protocol.
  */
object ValidateTableMain {

  def main(args: Array[String]): Unit = args match {
    case Array(schemaPath, inputDir, outDir) =>
      val schema = TableSchemaCompiler
        .compileString(java.nio.file.Files.readString(java.nio.file.Paths.get(schemaPath)))
        .fold(e => { System.err.println(s"invalid schema at $schemaPath: $e"); sys.exit(1) }, identity)

      val spark = CliSession.open("graft-validate")
      try {
        // the diagnostic bind view BEFORE the run: one line per schema/
        // physical column mismatch (a compile failure inside the run
        // reports only the first problem; this shows all of them)
        graft.exprs.ConstraintCompiler
          .bindReport(schema, spark.read.parquet(inputDir).schema)
          .filterNot(_.status == "ok")
          .foreach(b => System.err.println(s"schema bind: ${b.column} ${b.status} (${b.detail})"))
        val results = Checkpoint.runValidation(
          spark, inputDir, schema, s"$outDir/violations", s"$outDir/manifest.jsonl")
        val df = spark.read.parquet(inputDir)
        // both integrity checks from ONE full-data shuffle; row-level
        // orphan emission via broadcast join-back of the offending set
        val report = Integrity.integrityReport(df)
        report.duplicateKeys.write.mode("overwrite").parquet(s"$outDir/uniqueness_violations")
        Integrity.orphanRows(df, report.orphanConvs)
          .write.mode("overwrite").parquet(s"$outDir/referential_violations")
        report.unpersist() // both members materialized above
        Stats.profileLong(df, df.columns.toSeq)
          .write.mode("overwrite").parquet(s"$outDir/stats")

        // verdict sums over the FULL manifest (resume-safe): a re-run or
        // resumed run must still see violations found by earlier runs
        val all = Checkpoint.completedMetrics(s"$outDir/manifest.jsonl")
        val rowVios = all.map(_._3).sum
        val nDups = spark.read.parquet(s"$outDir/uniqueness_violations").count()
        val nOrph = spark.read.parquet(s"$outDir/referential_violations").count()
        val total = rowVios + nDups + nOrph
        println(s"processed ${results.size} pending units (${all.size} total in manifest)")
        if (total == 0) {
          println(s"valid table at $inputDir")
        } else {
          System.err.println(
            s"invalid table at $inputDir: $rowVios row violations, $nDups duplicate keys, $nOrph orphan rows")
          sys.exit(2)
        }
      } finally spark.stop()
    case _ =>
      System.err.println("usage: ValidateTableMain <schema.json> <transcripts-parquet-dir> <outDir>")
      sys.exit(1)
  }
}

/** Writes a synthetic transcripts table for demos/bench:
  * GenTranscriptsMain <outDir> <numConvs> <turnsPerConv> [clean|dirty] [numFiles]
  */
object GenTranscriptsMain {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val numConvs = args(1).toLong
    val turns = args(2).toInt
    val dirty = args.length > 3 && args(3) == "dirty"
    val files = if (args.length > 4) args(4).toInt else 8
    val spark = CliSession.open("graft-gen-transcripts")
    val defects = if (dirty) graft.sources.TranscriptGen.all else graft.sources.TranscriptGen.clean
    graft.sources.TranscriptGen.generate(spark, numConvs, turns, defects)
      .repartition(files).write.mode("overwrite").parquet(outDir)
    println(s"wrote $outDir")
    spark.stop()
  }
}
