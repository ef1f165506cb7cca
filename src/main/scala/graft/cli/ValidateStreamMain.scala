package graft.cli

import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.compile.{TableSchema, TableSchemaCompiler}

/** spark-submit entry point for INCREMENTAL validation over a growing
  * parquet directory:
  *
  *   ValidateStreamMain <schema.json> <input-parquet-dir> <outDir>
  *
  * Each invocation validates exactly the files that the manifest does
  * not yet hold, with the table CLI's validation half
  * ([[ValidateTableMain]]'s checkpointed batches: `violations/batch=<id>/`
  * plus `manifest.jsonl`, committed batch by batch), and then exits. A
  * file is new by its name under the table root, whatever its mtime, so
  * a file copied in with an old timestamp is validated too. A scheduler
  * invoking this every N minutes gets continuous validation; a pass
  * killed mid-run redoes only its uncommitted batch. It runs no
  * integrity or stats step.
  *
  * Prints `stream pass: N new violation rows (M total at <dir>)`, N
  * counted in this pass's batch writes and M summed over the manifest,
  * and exits 0 (no violations so far) / 2 (violations exist) / 1 (usage
  * or compile error) — same protocol as the batch CLI — plus 3 for
  * SCHEMA DRIFT: the first invocation pins the directory's MERGED
  * physical parquet schema at `outDir/_schema.json` (one full footer
  * scan; conflicts among the initial files are drift too), and every
  * pass reads the table with the pin. Later invocations stay O(new
  * files): a single-footer sample is checked against the pin before
  * starting (catches wholesale drift), and a drifted file the sample
  * missed fails its batch at read time, where it is classified by
  * Spark's stable error class and mapped to the same exit-3 protocol —
  * never a silent garbage validation, never an unexplained crash. Added
  * columns are tolerated (the compiled checks bind by name; new columns
  * stay invisible until re-pinned). An operator re-pins by deleting
  * `_schema.json` after fixing or accepting the change; the failed
  * batch was never committed to the manifest, so the re-pinned run
  * redoes it exactly once.
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

  /** A validation batch failing because a file's physical type cannot be
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

  /** One pass: the units and rows it validated, the violation rows
    * found in them, and the manifest's total.
    */
  final case class Pass(units: Int, inputRows: Long, newViolationRows: Long, totalViolationRows: Long)

  /** The CLI's exit code for a pass: 3 on schema drift, else 2 while
    * any violation row exists, else 0.
    */
  def exitCode(pass: Either[String, Pass]): Int =
    pass.fold(_ => 3, p => if (p.totalViolationRows > 0) 2 else 0)

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
    ValidateTableMain.requireEncodable(inputDir, outDir)
    pinOrCheckSchema(spark, inputDir, outDir) match {
      case Left(d) => drift(d)
      case Right(physical) =>
        // read with the PIN, not the sampled footer: a pinned column a
        // file lacks reads as NULL and is checked, never dropped
        try {
          val (_, results, all) = ValidateTableMain.validate(spark, schema, inputDir, outDir, Some(physical))
          val pass = Pass(results.size, results.map(_.rows).sum, results.map(_.violations).sum, all.map(_._3).sum)
          println(s"stream pass: ${pass.newViolationRows} new violation rows " +
            s"(${pass.totalViolationRows} total at $outDir/violations)")
          Right(pass)
        } catch {
          // a drifted file the one-footer prelude didn't sample fails its
          // batch at read time; that batch is uncommitted, so the pass
          // after re-pinning deletes its directory and redoes it once
          case e: Exception if isSchemaDriftFailure(e) =>
            drift("a file incompatible with the pinned schema failed its batch")
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
