package graft.cli

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.streaming.Trigger
import org.json4s.{JLong, JObject, JValue}
import graft.checkpoint.Checkpoint
import graft.compile.{Js, TableSchema, TableSchemaCompiler}
import graft.exprs.Validator

/** spark-submit entry point for INCREMENTAL validation over a growing
  * parquet directory — the streaming analogue of [[ValidateTableMain]]:
  *
  *   ValidateStreamMain <schema.json> <input-parquet-dir> <outDir>
  *
  * Runs the SAME compiled violation plan as the batch path
  * (`Validator.validateTranscripts`) through Structured Streaming with
  * `Trigger.AvailableNow`: each invocation processes exactly the files
  * that appeared since the previous one (source progress lives in
  * `outDir/_checkpoint` — Spark's own exactly-once file-source ledger,
  * so a re-run after a crash neither skips nor duplicates a file) and
  * then exits. A scheduler invoking this every N minutes gets
  * continuous validation with batch semantics; the same binary with
  * `.trigger(ProcessingTime)` would be the always-on form.
  *
  * The pass's violation rows are counted by an `observe` on the stream
  * itself, not by reading `outDir/violations` back. Each pass appends
  * one line to `outDir/stream_report.jsonl` (`last_batch_id`,
  * `input_rows`, `new_violation_rows`, `total_violation_rows`; a local
  * file, so `outDir` is a local path or `file:` URI), and the total is
  * the previous line's total plus this pass's count. A pass
  * that died after the sink committed a batch but before its report
  * line landed leaves the stream's logs ahead of the report; the next
  * pass then recounts `outDir/violations` once and reports from that.
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
    val pinPath = new Path(s"$outDir/_schema.json")
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

  /** One pass, as its line in `stream_report.jsonl` records it. */
  final case class Pass(lastBatchId: Long, inputRows: Long,
                        newViolationRows: Long, totalViolationRows: Long)

  /** The CLI's exit code for a pass: 3 on schema drift, else 2 while
    * any violation row exists, else 0.
    */
  def exitCode(pass: Either[String, Pass]): Int =
    pass.fold(_ => 3, p => if (p.totalViolationRows > 0) 2 else 0)

  private def toJson(p: Pass): String = Js.compact(JObject(List(
    "last_batch_id" -> JLong(p.lastBatchId),
    "input_rows" -> JLong(p.inputRows),
    "new_violation_rows" -> JLong(p.newViolationRows),
    "total_violation_rows" -> JLong(p.totalViolationRows))))

  /** A report line that lacks a field is a torn append (the
    * manifest's rule) and is skipped.
    */
  private def fromJson(j: JValue): Option[Pass] =
    for {
      batch <- Js.longField(j, "last_batch_id")
      rows <- Js.longField(j, "input_rows")
      added <- Js.longField(j, "new_violation_rows")
      total <- Js.longField(j, "total_violation_rows")
    } yield Pass(batch, rows, added, total)

  private val LogEntry = """(\d+)(?:\.compact)?""".r

  /** The highest batch id in a Spark metadata log directory (one file
    * per batch, named by its id; the file sink also writes
    * `<id>.compact`), or -1 when it holds none.
    */
  private def lastLogged(fs: FileSystem, dir: Path): Long =
    if (!fs.exists(dir)) -1L
    else fs.listStatus(dir).map(_.getPath.getName)
      .collect { case LogEntry(id) => id.toLong }.maxOption.getOrElse(-1L)

  /** One incremental pass over `inputDir` (see the object doc): prints
    * its summary line and returns it, or Left with the drift found
    * (exit 3 at the CLI).
    */
  def run(spark: SparkSession, schema: TableSchema, inputDir: String, outDir: String): Either[String, Pass] = {
    def drift(what: String): Either[String, Pass] = {
      System.err.println(s"schema drift at $inputDir: $what " +
        s"(delete $outDir/_schema.json to re-pin after fixing or accepting it)")
      Left(what)
    }
    // file streams need an explicit schema; the FIRST invocation pins it
    // from the files present then, and every later one checks the
    // directory against the pin, so the stream never silently reads a
    // drifted file with a stale schema
    pinOrCheckSchema(spark, inputDir, outDir) match {
      case Left(d) => drift(d)
      case Right(physical) =>
        val violationsDir = s"$outDir/violations"
        val commits = new Path(s"$outDir/_checkpoint/commits")
        val sinkLog = new Path(s"$violationsDir/_spark_metadata")
        val fs = commits.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // a local JSON-lines ledger, as the manifest is
        val reportPath = Checkpoint.localFile(s"$outDir/stream_report.jsonl")
        val prev = Checkpoint.readLedger(reportPath)(fromJson).lastOption
        // a batch the stream's logs hold but the report does not means a
        // pass died before its report line landed; the sink log records a
        // batch before the commit log does, so a death between the two
        // is caught too
        val stale = math.max(lastLogged(fs, commits), lastLogged(fs, sinkLog)) != prev.fold(-1L)(_.lastBatchId)

        val q = Validator.validateTranscripts(spark.readStream.schema(physical).parquet(inputDir), schema)
          .observe("stream_violations", count(lit(1)))
          .writeStream
          .format("parquet")
          .option("path", violationsDir)
          .option("checkpointLocation", s"$outDir/_checkpoint")
          .trigger(Trigger.AvailableNow())
          .start()
        val driftedMidStream =
          try { q.awaitTermination(); false }
          catch {
            // a drifted file the one-footer prelude didn't sample fails
            // the batch at read time — classify it as the documented
            // drift protocol (exit 3), not a generic crash. The stream
            // checkpoint has NOT committed the failed batch, so the run
            // after re-pinning reprocesses it exactly once.
            case e: Exception if isSchemaDriftFailure(e) => true
          }
        if (driftedMidStream) drift("a file incompatible with the pinned schema appeared mid-stream")
        else {
          // the query thread appends each batch's progress (with its
          // observed count) before it posts the listener event, so after
          // awaitTermination every batch of this pass is in the buffer
          // (AvailableNow over a file source with no read limit runs one
          // batch per pass; the buffer keeps the last 100)
          val batches = q.recentProgress.toSeq.filter(_.observedMetrics.containsKey("stream_violations"))
          val added = batches.map(_.observedMetrics.get("stream_violations").getLong(0)).sum
          val total =
            if (stale)
              try spark.read.parquet(violationsDir).count()
              catch { case _: AnalysisException => 0L } // no output yet
            else prev.fold(0L)(_.totalViolationRows) + added
          val pass = Pass(lastLogged(fs, commits), batches.map(_.numInputRows).sum, added, total)
          Checkpoint.appendLedger(reportPath, Seq(toJson(pass)))
          println(s"stream pass: $added new violation rows ($total total at $violationsDir)")
          Right(pass)
        }
    }
  }

  def main(args: Array[String]): Unit = args match {
    case Array(schemaPath, inputDir, outDir) =>
      val schema = TableSchemaCompiler
        .compileString(Files.readString(Paths.get(schemaPath)))
        .fold(e => { System.err.println(s"invalid schema at $schemaPath: $e"); sys.exit(1) }, identity)
      val spark = CliSession.open("graft-validate-stream")
      val code = try exitCode(run(spark, schema, inputDir, outDir)) finally spark.stop()
      sys.exit(code)
    case _ =>
      System.err.println("usage: ValidateStreamMain <schema.json> <input-parquet-dir> <outDir>")
      sys.exit(1)
  }
}
