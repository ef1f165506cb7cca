package graft.cli

import java.nio.charset.Charset
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType
import graft.compile.{TableSchema, TableSchemaCompiler}
import graft.checkpoint.Checkpoint
import graft.stats.Stats
import graft.integrity.Integrity

/** spark-submit entry point for a full validation run (the data-plane
  * analogue of the reference CLI `JsonSchemaValidator.scala:13-31`):
  *
  *   ValidateTableMain <schema.json> <transcripts-parquet-dir> <outDir>
  *
  * Compiles the schema, runs the resumable checkpointed validation
  * (violations parquet per batch of input files, `violations/batch=<id>/`,
  * + JSON-lines manifest with per-unit lineage/metrics, committed batch by
  * batch), runs the shuffling integrity checks, observing the
  * stats profile in their scan, prints `valid table at …` / `invalid
  * table at …`, and exits 0 (clean) / 2 (violations) / 1 (usage or
  * compile error) — mirroring the reference's valid/invalid/usage protocol.
  */
object ValidateTableMain {

  /** A run's verdict: units validated by this run and in the whole
    * manifest, and the violation counts the verdict sums.
    */
  final case class Verdict(pendingUnits: Int, manifestUnits: Int,
                           rowViolations: Long, duplicateKeys: Long, orphanRows: Long) {
    def total: Long = rowViolations + duplicateKeys + orphanRows
  }

  /** A path the JVM cannot encode as a file name fails here, before
    * anything is read or written (Hadoop would fail mid-run on it).
    */
  private[cli] def requireEncodable(paths: String*): Unit = {
    val jnu = Charset.forName(sys.props("sun.jnu.encoding"))
    paths.foreach(p => require(jnu.newEncoder().canEncode(p), s"path $p cannot be encoded " +
      s"in the JVM's file name encoding ${jnu.name}; run under a UTF-8 locale (e.g. LANG=C.UTF-8)"))
  }

  /** The validation half both CLIs run: open the table (read with
    * `physical` when given), print the bind report, validate every
    * pending unit into `violations/batch=<id>/` and `manifest.jsonl`.
    * Returns the opened table, the units this run validated and every
    * committed unit's (unit, rows, violations).
    */
  private[cli] def validate(spark: SparkSession, schema: TableSchema, inputDir: String, outDir: String,
                            physical: Option[StructType] = None)
      : (Checkpoint.Table, Seq[Checkpoint.UnitResult], Seq[(String, Long, Long)]) = {
    val table = Checkpoint.openTable(spark, inputDir, physical)
    // the diagnostic bind view BEFORE the run: one line per schema/
    // physical column mismatch (a compile failure inside the run
    // reports only the first problem; this shows all of them)
    graft.exprs.ConstraintCompiler
      .bindReport(schema, table.df.schema)
      .filterNot(_.status == "ok")
      .foreach(b => System.err.println(s"schema bind: ${b.column} ${b.status} (${b.detail})"))
    val results = Checkpoint.runValidation(table, schema, s"$outDir/violations",
      s"$outDir/manifest.jsonl", batchSize = Checkpoint.DefaultBatchSize)
    // totals over the FULL manifest (resume-safe): a re-run or resumed
    // run must still see violations found by earlier runs
    (table, results, Checkpoint.completedMetrics(s"$outDir/manifest.jsonl"))
  }

  /** One run over `inputDir`: the table is opened (listed, schema
    * inferred) once and that relation feeds the bind report, the
    * checkpointed validation and the integrity checks. No output is read
    * back: the verdict's counts and the stats are observed inside the
    * writes that produce or precede them.
    */
  def run(spark: SparkSession, schema: TableSchema, inputDir: String, outDir: String): Verdict = {
    requireEncodable(inputDir, outDir)
    val (table, results, all) = validate(spark, schema, inputDir, outDir)
    val df = table.df
    // both integrity checks from ONE full-data shuffle, whose scan also
    // observes the column profile; orphan rows by broadcast join-back
    val (cols, statsObs) = (df.columns.toSeq, Observation())
    val profile = Stats.profileAggs(df, cols)
    val report = Integrity.integrityReport(df.observe(statsObs, profile.head, profile.tail: _*))
    val nDups = writeCounted(report.duplicateKeys, s"$outDir/uniqueness_violations")
    val nOrph = writeCounted(Integrity.orphanRows(df, report.orphanConvs), s"$outDir/referential_violations")
    report.unpersist() // both members materialized above
    // the observed profile as one local row of the agg's schema (no job)
    val wide = df.select(profile: _*).schema
    val row = Row.fromSeq(wide.fieldNames.toSeq.map(n => statsObs.get.getOrElse(n,
      throw new IllegalStateException(s"column profile of $inputDir was not observed"))))
    Stats.explodeProfile(spark.createDataFrame(java.util.List.of(row), wide), cols)
      .write.mode("overwrite").parquet(s"$outDir/stats")
    Verdict(results.size, all.size, all.map(_._3).sum, nDups, nOrph)
  }

  /** Overwrite `path` with `df` and return its row count, observed in
    * the write job itself.
    */
  private def writeCounted(df: DataFrame, path: String): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.mode("overwrite").parquet(path)
    obs.get.getOrElse("n", throw new IllegalStateException(s"row count of $path was not observed"))
      .asInstanceOf[Long]
  }

  def main(args: Array[String]): Unit = args match {
    case Array(schemaPath, inputDir, outDir) =>
      val schema = TableSchemaCompiler
        .compileString(java.nio.file.Files.readString(java.nio.file.Paths.get(schemaPath)))
        .fold(e => { System.err.println(s"invalid schema at $schemaPath: $e"); sys.exit(1) }, identity)

      val spark = CliSession.open("graft-validate")
      try {
        val v = run(spark, schema, inputDir, outDir)
        println(s"processed ${v.pendingUnits} pending units (${v.manifestUnits} total in manifest)")
        if (v.total == 0) {
          println(s"valid table at $inputDir")
        } else {
          System.err.println(s"invalid table at $inputDir: ${v.rowViolations} row violations, " +
            s"${v.duplicateKeys} duplicate keys, ${v.orphanRows} orphan rows")
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
