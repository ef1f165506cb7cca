package graft.cli

import java.nio.charset.Charset
import java.nio.file.{Files, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.{DataType, StructType}
import graft.compile.{TableSchema, TableSchemaCompiler}
import graft.checkpoint.Checkpoint
import graft.stats.Stats
import graft.integrity.Integrity

/** spark-submit entry point for a validation run (the data-plane
  * analogue of the reference CLI `JsonSchemaValidator.scala:13-31`):
  *
  *   ValidateTableMain <schema.json> <transcripts-parquet-dir> <outDir>
  *
  * Compiles the schema, pins the input's physical schema, runs the
  * resumable checkpointed validation (violations parquet per batch of
  * input files, `violations/batch=<id>/`, + JSON-lines manifest with
  * per-unit lineage/metrics, committed batch by batch), runs the
  * shuffling integrity checks, observing the stats profile in their
  * scan, prints `valid table at …` / `invalid table at …`, and exits
  * 0 (clean) / 2 (violations) / 1 (usage or compile error) — mirroring
  * the reference's valid/invalid/usage protocol — or 3 (schema drift).
  *
  * The pin: the first run over an outDir writes the input's MERGED
  * physical parquet schema (every footer; conflicting types among the
  * files are drift) to `<outDir>/_schema.json`, and every read of every
  * run — the validation batches, the integrity keyspace, the orphan
  * join-back and the stats — goes through it, so a pinned column that a
  * file lacks reads as NULL and is checked. A later run samples one
  * footer against the pin (a pinned column missing or retyped there is
  * drift), and a file the sample missed whose types no longer match the
  * pin fails its read, which is drift too. Added columns are ignored
  * until re-pinned. Re-pin by deleting `_schema.json` after fixing or
  * accepting the change: a batch that failed on drift never reached the
  * manifest, so the re-pinned run redoes it once.
  *
  * A growing directory is validated by re-running on the same outDir:
  * only the units the manifest lacks are validated (a file is new by
  * its name under the table root, whatever its mtime), the row
  * violations are summed over the whole manifest, and integrity and
  * stats scan the whole table.
  */
object ValidateTableMain {

  /** A run's verdict: units validated by this run and in the whole
    * manifest, and the violation counts the verdict sums.
    */
  final case class Verdict(pendingUnits: Int, manifestUnits: Int,
                           rowViolations: Long, duplicateKeys: Long, orphanRows: Long) {
    def total: Long = rowViolations + duplicateKeys + orphanRows
  }

  /** The CLI's exit code for a run: 3 on schema drift, else 2 while any
    * violation exists, else 0.
    */
  def exitCode(run: Either[String, Verdict]): Int = run.fold(_ => 3, v => if (v.total == 0) 0 else 2)

  /** A path the JVM cannot encode as a file name fails here, before
    * anything is read or written (Hadoop would fail mid-run on it).
    */
  private def requireEncodable(paths: String*): Unit = {
    val jnu = Charset.forName(sys.props("sun.jnu.encoding"))
    paths.foreach(p => require(jnu.newEncoder().canEncode(p), s"path $p cannot be encoded " +
      s"in the JVM's file name encoding ${jnu.name}; run under a UTF-8 locale (e.g. LANG=C.UTF-8)"))
  }

  private def causes(e: Throwable): Iterator[Throwable] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12)

  /** The first of `e`'s causes with Spark's stable error class
    * `condition`, never matched on message wording.
    */
  private def withCondition(e: Throwable, condition: String): Option[Throwable] = causes(e).find {
    case st: org.apache.spark.SparkThrowable => String.valueOf(st.getCondition).contains(condition)
    case _ => false
  }

  /** A read failing because a file's physical type cannot be read with
    * the pinned schema — the runtime face of schema drift (the pin check
    * samples only one footer, so a drifted file can first surface here,
    * in a validation batch or in the whole-table integrity read).
    */
  def isSchemaDriftFailure(e: Throwable): Boolean =
    withCondition(e, "PARQUET_COLUMN_DATA_TYPE_MISMATCH").nonEmpty ||
      causes(e).exists(_.getClass.getName.contains("SchemaColumnConvertNotSupported"))

  /** The pinned physical schema of `inputDir` (see the object doc): the
    * first run over `outDir` pins the MERGED schema (one footer read per
    * file); a later run checks one footer against the pin, so its
    * prelude stays O(1) in the table's file count. Left = the drift found
    * (exit 3 at the CLI).
    */
  def pinOrCheckSchema(spark: SparkSession, inputDir: String, outDir: String): Either[String, StructType] = {
    val pinPath = Checkpoint.localFile(s"$outDir/_schema.json")
    if (!Files.exists(pinPath)) {
      val physical =
        try Right(Checkpoint.readParquet(spark.read.option("mergeSchema", "true"), inputDir).schema)
        catch {
          case e: Exception if withCondition(e, "CANNOT_MERGE").nonEmpty =>
            Left("incompatible schemas among input files: " +
              e.getMessage.linesIterator.take(4).mkString(" ").trim)
        }
      physical.map { phys =>
        // a whole pin or none: a torn one would fail every later run
        val tmp = pinPath.resolveSibling("_schema.json.tmp")
        Files.createDirectories(pinPath.getParent)
        Files.writeString(tmp, phys.json)
        Files.move(tmp, pinPath, StandardCopyOption.ATOMIC_MOVE)
        phys
      }
    } else {
      val pinned = DataType.fromJson(Files.readString(pinPath)).asInstanceOf[StructType]
      val sampled = Checkpoint.readParquet(spark.read, inputDir).schema
      val sampledByName = sampled.map(f => f.name -> f.dataType).toMap
      val drifted = pinned.toSeq.flatMap { f =>
        sampledByName.get(f.name) match {
          case None => Some(s"${f.name}: missing (pinned ${f.dataType.simpleString})")
          case Some(dt) if dt != f.dataType =>
            Some(s"${f.name}: ${f.dataType.simpleString} -> ${dt.simpleString}")
          case _ => None
        }
      }
      val added = sampled.map(_.name).filterNot(pinned.fieldNames.toSet)
      if (added.nonEmpty)
        System.err.println(s"note: new columns ignored until re-pinned: ${added.mkString(", ")}")
      if (drifted.nonEmpty) Left(drifted.mkString("; ")) else Right(pinned)
    }
  }

  /** One run over `inputDir` (see the object doc), or Left with the
    * drift found. The table is opened (listed, read with the pin) once
    * and that relation feeds the bind report, the checkpointed
    * validation and the integrity checks. No output is read back: the
    * verdict's counts and the stats are observed inside the writes that
    * produce or precede them.
    */
  def run(spark: SparkSession, schema: TableSchema, inputDir: String, outDir: String): Either[String, Verdict] = {
    def drift(what: String): Either[String, Verdict] = {
      System.err.println(s"schema drift at $inputDir: $what " +
        s"(delete $outDir/_schema.json to re-pin after fixing or accepting it)")
      Left(what)
    }
    requireEncodable(inputDir, outDir)
    pinOrCheckSchema(spark, inputDir, outDir).fold(drift, physical =>
      try {
        val table = Checkpoint.openTable(spark, inputDir, Some(physical))
        val df = table.df
        // the diagnostic bind view BEFORE the run: one line per schema/
        // physical column mismatch (a compile failure inside the run
        // reports only the first problem; this shows all of them)
        graft.exprs.ConstraintCompiler
          .bindReport(schema, df.schema)
          .filterNot(_.status == "ok")
          .foreach(b => System.err.println(s"schema bind: ${b.column} ${b.status} (${b.detail})"))
        val results = Checkpoint.runValidation(table, schema, s"$outDir/violations",
          s"$outDir/manifest.jsonl", batchSize = Checkpoint.DefaultBatchSize)
        // totals over the FULL manifest (resume-safe): a re-run or resumed
        // run must still see violations found by earlier runs
        val all = Checkpoint.completedMetrics(s"$outDir/manifest.jsonl")
        // both integrity checks from ONE full-data shuffle, whose scan also
        // observes the column profile; orphan rows by broadcast join-back
        val (cols, statsObs) = (df.columns.toSeq, Observation())
        val profile = Stats.profileAggs(df, cols)
        val report = Integrity.integrityReport(df.observe(statsObs, profile.head, profile.tail: _*))
        val (nDups, nOrph) =
          try (writeCounted(report.duplicateKeys, s"$outDir/uniqueness_violations"),
            writeCounted(Integrity.orphanRows(df, report.orphanConvs), s"$outDir/referential_violations"))
          finally report.unpersist()
        // the observed profile as one local row of the agg's schema (no job)
        val wide = df.select(profile: _*).schema
        val row = Row.fromSeq(wide.fieldNames.toSeq.map(n => statsObs.get.getOrElse(n,
          throw new IllegalStateException(s"column profile of $inputDir was not observed"))))
        Stats.explodeProfile(spark.createDataFrame(java.util.List.of(row), wide), cols)
          .write.mode("overwrite").parquet(s"$outDir/stats")
        Right(Verdict(results.size, all.size, all.map(_._3).sum, nDups, nOrph))
      } catch {
        // a drifted file the one-footer check didn't sample fails its
        // read; a failed batch is uncommitted, so the run after re-pinning
        // deletes its directory and redoes it once
        case e: Exception if isSchemaDriftFailure(e) =>
          drift("a file incompatible with the pinned schema failed its read" +
            withCondition(e, "PARQUET_COLUMN_DATA_TYPE_MISMATCH").fold("")(c => ": " + c.getMessage.linesIterator.next()))
      })
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
        .compileString(Files.readString(java.nio.file.Paths.get(schemaPath)))
        .fold(e => { System.err.println(s"invalid schema at $schemaPath: $e"); sys.exit(1) }, identity)

      val spark = CliSession.open("graft-validate")
      val code =
        try {
          val r = run(spark, schema, inputDir, outDir)
          r.foreach { v =>
            println(s"processed ${v.pendingUnits} pending units (${v.manifestUnits} total in manifest)")
            if (v.total == 0) println(s"valid table at $inputDir")
            else System.err.println(s"invalid table at $inputDir: ${v.rowViolations} row violations, " +
              s"${v.duplicateKeys} duplicate keys, ${v.orphanRows} orphan rows")
          }
          exitCode(r)
        } finally spark.stop()
      sys.exit(code)
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
