package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import graft.compile.TableSchemaCompiler
import graft.streaming.StreamingValidator

/** spark-submit entry point for INCREMENTAL validation over a growing
  * parquet directory — the streaming analogue of [[ValidateTableMain]]:
  *
  *   ValidateStreamMain <schema.json> <input-parquet-dir> <outDir>
  *
  * Runs the SAME compiled violation plan as the batch path through
  * Structured Streaming with `Trigger.AvailableNow`: each invocation
  * processes exactly the files that appeared since the previous one
  * (source progress lives in `outDir/_checkpoint` — Spark's own
  * exactly-once file-source ledger, so a re-run after a crash neither
  * skips nor duplicates a file) and then exits. A scheduler invoking
  * this every N minutes gets continuous validation with batch
  * semantics; the same binary with `.trigger(ProcessingTime)` would be
  * the always-on form.
  *
  * Prints `stream pass: N new violation rows (M total at <dir>)` and
  * exits 0 (no violations so far) / 2 (violations exist) / 1 (usage or
  * compile error) — same protocol as the batch CLI — plus 3 for
  * SCHEMA DRIFT: the first invocation pins the directory's MERGED
  * physical parquet schema at `outDir/_schema.json` (one full footer
  * scan; conflicts among the initial files are drift too). Later
  * invocations stay O(new files): a single-footer sample is checked
  * against the pin before starting (catches wholesale drift), and a
  * drifted file the sample missed fails its batch at read time, where
  * it is classified by Spark's stable error class and mapped to the
  * same exit-3 protocol — never a silent garbage validation, never an
  * unexplained crash. Added columns are tolerated (the compiled checks
  * bind by name; new columns stay invisible until re-pinned). An
  * operator re-pins by deleting `_schema.json` after fixing or
  * accepting the change; the failed batch was never committed to the
  * stream checkpoint, so the re-pinned run reprocesses it exactly once.
  */
object ValidateStreamMain {

  private def causeChain(t: Throwable): Iterator[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(12)

  private def errorCondition(t: Throwable): String = t match {
    case st: org.apache.spark.SparkThrowable => String.valueOf(st.getCondition)
    case _ => ""
  }

  /** A parquet merge conflict anywhere in a cause chain — matched on
    * Spark's stable error class, not on message wording.
    */
  private def isMergeConflict(e: Throwable): Boolean =
    causeChain(e).exists(c => errorCondition(c).contains("CANNOT_MERGE"))

  /** A streaming batch failing because a file's physical type cannot be
    * read with the pinned schema — the runtime face of schema drift
    * (the per-invocation prelude samples only one footer, so a drifted
    * file can first surface here, mid-batch).
    */
  def isSchemaDriftFailure(e: Throwable): Boolean =
    causeChain(e).exists { c =>
      c.getClass.getName.contains("SchemaColumnConvertNotSupported") ||
        errorCondition(c).contains("CANNOT_MERGE") ||
        errorCondition(c).contains("PARQUET_COLUMN_DATA_TYPE_MISMATCH")
    }

  /** First run pins the directory's MERGED physical schema (one full
    * footer scan — conflicts among the initial files are drift). Later
    * runs pay only a single-footer sample, preserving the CLI's
    * O(new files) incremental cost: the sample catches wholesale drift
    * (compaction, sampled-file type change), and a drifted file the
    * sample misses is caught at read time by [[isSchemaDriftFailure]].
    * Left = human-readable drift description (exit 3 at the CLI).
    * Public for direct testing — main() adds process plumbing.
    */
  def pinOrCheckSchema(spark: SparkSession, inputDir: String,
                       outDir: String): Either[String, org.apache.spark.sql.types.StructType] = {
    val pinPath = new org.apache.hadoop.fs.Path(s"$outDir/_schema.json")
    val fs = pinPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(pinPath)) {
      val physical =
        try Right(spark.read.option("mergeSchema", "true").parquet(inputDir).schema)
        catch {
          case e: Exception if isMergeConflict(e) =>
            Left("incompatible schemas among input files: " +
              e.getMessage.linesIterator.take(4).mkString(" ").trim)
        }
      physical.map { phys =>
        val out = fs.create(pinPath, true)
        try out.write(phys.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        phys
      }
    } else {
      val in = fs.open(pinPath)
      val pinnedJson = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val pinned = org.apache.spark.sql.types.DataType.fromJson(pinnedJson)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      // NO mergeSchema here: default inference reads one footer, keeping
      // this prelude O(1) in the directory's total file count
      val sampled = spark.read.parquet(inputDir).schema
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

  def main(args: Array[String]): Unit = args match {
    case Array(schemaPath, inputDir, outDir) =>
      val schema = TableSchemaCompiler
        .compileString(java.nio.file.Files.readString(java.nio.file.Paths.get(schemaPath)))
        .fold(e => { System.err.println(s"invalid schema at $schemaPath: $e"); sys.exit(1) }, identity)
      val spark = CliSession.open("graft-validate-stream")
      try {
        // file streams need an explicit schema; the FIRST invocation
        // pins it from the files present then, and every later one
        // checks the directory against the pin (exit 3 on drift) so the
        // stream never silently reads a drifted file with a stale schema
        val physical = pinOrCheckSchema(spark, inputDir, outDir) match {
          case Left(drift) =>
            System.err.println(s"schema drift at $inputDir: $drift " +
              s"(delete $outDir/_schema.json to re-pin after fixing or accepting it)")
            sys.exit(3)
          case Right(s) => s
        }
        val violationsDir = s"$outDir/violations"
        def totalViolations(): Long =
          try spark.read.parquet(violationsDir).count()
          catch { case _: org.apache.spark.sql.AnalysisException => 0L } // first run: no output yet
        val before = totalViolations()
        val q = StreamingValidator
          .violations(spark.readStream.schema(physical).parquet(inputDir), schema)
          .writeStream
          .format("parquet")
          .option("path", violationsDir)
          .option("checkpointLocation", s"$outDir/_checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination()
        catch {
          // a drifted file the one-footer prelude didn't sample fails
          // the batch at read time — classify it as the documented
          // drift protocol (exit 3), not a generic crash. The stream
          // checkpoint has NOT committed the failed batch, so the run
          // after re-pinning reprocesses it exactly once.
          case e: Exception if isSchemaDriftFailure(e) =>
            System.err.println(s"schema drift at $inputDir: a file incompatible with the " +
              s"pinned schema appeared mid-stream " +
              s"(delete $outDir/_schema.json to re-pin after fixing or accepting it)")
            sys.exit(3)
        }
        val after = totalViolations()
        println(s"stream pass: ${after - before} new violation rows ($after total at $violationsDir)")
        sys.exit(if (after > 0) 2 else 0)
      } finally spark.stop()
    case _ =>
      System.err.println("usage: ValidateStreamMain <schema.json> <input-parquet-dir> <outDir>")
      sys.exit(1)
  }
}
