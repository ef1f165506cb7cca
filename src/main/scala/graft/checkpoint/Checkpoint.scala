package graft.checkpoint

import java.net.URI
import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable
import scala.util.Try
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, DataFrameReader, Encoder, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s.{JBool, JLong, JNull, JObject, JString, JValue}
import graft.compile.{Js, TableSchema}
import graft.exprs.ConstraintCompiler.tableColumn
import graft.exprs.Validator

/** Resumable validation runs (north_rule: "resumable from checkpoint
  * with per-partition lineage + metrics").
  *
  * The unit of lineage is an input file (the natural parallel unit of a
  * lake table; for Iceberg this generalizes to `(snapshot id, manifest
  * entry)` — each manifest line keeps a `snapshot_id` field, null on
  * plain Parquet, SURVEY.md §7), named by its path under the table root.
  *
  * The manifest is JSON-lines, one entry per unit with its metrics and
  * batch id; a batch (one `batch=<id>/` violations write plus one
  * manifest append) is the commit. Resume = set-difference of the
  * input's units against the committed ones, so a killed run redoes only
  * uncommitted batches and the final violation rows equal an
  * uninterrupted run's as a multiset (FIXTURES.md §4 "resume").
  */
object Checkpoint {

  /** `batchWallMs`/`batchSize` are BATCH-level timing: the wall time of
    * the group job that processed this unit and how many units shared
    * it. A per-unit wall time would be a lie (the batch is one fused
    * Spark job; a slow unit's cost cannot be attributed), so the
    * manifest records the honest batch measurement instead.
    */
  final case class UnitResult(
      unit: String,
      rows: Long,
      violations: Long,
      passed: Boolean,
      batchWallMs: Long,
      batchSize: Int = 1,
      nullCounts: Map[String, Long] = Map.empty)

  /** One manifest line of batch `batch`. The JSON codec (json4s, the
    * schema parser's) escapes `"`, `\` and every control character
    * U+0000–U+001F, so a raw newline in a unit path or a column name
    * cannot split one record across two lines.
    */
  def toJson(batch: Long, r: UnitResult): String = {
    val nulls =
      if (r.nullCounts.isEmpty) Nil
      else List("null_counts" ->
        JObject(r.nullCounts.toList.sortBy(_._1).map { case (c, n) => c -> JLong(n) }))
    Js.compact(JObject(List(
      "unit" -> JString(r.unit),
      "snapshot_id" -> JNull,
      "rows" -> JLong(r.rows),
      "violations" -> JLong(r.violations),
      "passed" -> JBool(r.passed),
      "batch_wall_ms" -> JLong(r.batchWallMs),
      "batch" -> JLong(batch),
      "batch_size" -> JLong(r.batchSize)) ++ nulls))
  }

  /** Per-unit metrics of every committed unit in the manifest:
    * (unit, rows, violations). The final valid/invalid verdict of a run
    * must sum over the FULL manifest, not just the units processed in
    * the current invocation — a resumed (or already-complete) run would
    * otherwise report 0 row violations for the skipped units.
    */
  def completedMetrics(manifestPath: String): Seq[(String, Long, Long)] =
    committed(manifestPath)._1.map(e => (e.unit, e.rows, e.violations))

  private final case class Entry(unit: String, rows: Long, violations: Long, batch: Long, batchSize: Long)

  /** The entries of the manifest's committed batches, and the highest
    * batch id it names. A batch is committed when all its `batch_size`
    * lines parse fully: a torn line (a crash mid-append; a missing
    * metric field too) uncommits its whole batch, so resume redoes every
    * unit of it and none is counted twice. A line without `batch` is from
    * the per-unit layout of earlier versions and fails.
    */
  private def committed(manifestPath: String): (Seq[Entry], Long) = {
    val entries = readLedger(localFile(manifestPath)) { j =>
      for {
        unit <- Js.stringField(j, "unit")
        rows <- Js.longField(j, "rows")
        vios <- Js.longField(j, "violations")
        size <- Js.longField(j, "batch_size")
      } yield Js.longField(j, "batch").map(Entry(unit, rows, vios, _, size)).getOrElse(
        throw new IllegalArgumentException(s"$manifestPath has a line without a batch id (the per-unit " +
          "layout of earlier versions); validate into a fresh output directory"))
    }
    val batches = entries.groupBy(_.batch)
    val whole = batches.collect { case (id, es) if es.forall(_.batchSize == es.size) => id }.toSet
    (entries.filter(e => whole(e.batch)), batches.keys.maxOption.getOrElse(-1L))
  }

  /** Append batch `batch`'s manifest lines in one write. */
  def appendResults(manifestPath: String, batch: Long, rs: Seq[UnitResult]): Unit =
    appendLedger(localFile(manifestPath), rs.map(toJson(batch, _)))

  /** The records of a JSON-lines ledger, in file order. A line that does
    * not decode as UTF-8 or does not parse, or that `record` rejects, is
    * a torn write (a crash mid-append, cut anywhere — inside a multibyte
    * character too) and is skipped.
    */
  private def readLedger[T](path: java.nio.file.Path)(record: JValue => Option[T]): Seq[T] =
    if (!Files.exists(path)) Nil
    else {
      // ISO-8859-1 maps each byte to one char, so a line's bytes survive
      // the split intact for the strict UTF-8 decode
      val lines = new String(Files.readAllBytes(path), StandardCharsets.ISO_8859_1).split("\n", -1).toSeq
      val utf8 = StandardCharsets.UTF_8.newDecoder() // REPORTs malformed input
      lines.flatMap { line =>
        Try(utf8.decode(ByteBuffer.wrap(line.getBytes(StandardCharsets.ISO_8859_1))).toString).toOption
          .flatMap(l => Js.parse(l).toOption).flatMap(record)
      }
    }

  /** Append `lines` to a JSON-lines ledger in one write. A torn last
    * line has no newline: the append starts a fresh line, so the first
    * new record is not glued onto the fragment (and lost with it).
    */
  private def appendLedger(path: java.nio.file.Path, lines: Seq[String]): Unit = {
    Option(path.getParent).foreach(Files.createDirectories(_))
    val torn = Files.exists(path) && Files.size(path) > 0 && {
      val ch = FileChannel.open(path)
      val last = ByteBuffer.allocate(1)
      try ch.read(last, ch.size - 1) finally ch.close()
      last.get(0) != '\n'
    }
    Files.writeString(path, (if (torn) "\n" else "") + lines.map(_ + "\n").mkString,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** The java.nio file a plain path or `file:` URI names; other schemes fail. */
  private[graft] def localFile(path: String): java.nio.file.Path = {
    val u = new Path(path).toUri
    require(Option(u.getScheme).forall(_ == "file"), s"$path must be a local path or a file: URI")
    Paths.get(u.getPath)
  }

  /** An input table opened once per run: one file listing and one schema
    * inference, shared by every batch of the run and by the steps after
    * it (integrity, stats).
    *
    * `files` holds the table's data files in ONE path form, the one
    * Spark reports as `_metadata.file_path` (see [[filePathForm]]), and
    * `root` the table directory in that form; the unit list, each batch's
    * file filter and its lineage map are all derived from them.
    * `dataColumns` are the columns stored in the files (partition-directory
    * columns are not part of a unit's metrics).
    */
  final case class Table(df: DataFrame, root: String, files: Seq[String], dataColumns: Seq[String]) {

    /** The manifest's name for a unit: its decoded path under the table
      * root (`date=a/part-0.parquet`), wherever the table lives. A file
      * outside the root fails.
      */
    def unitName(filePath: String): String = {
      val (dir, path) = (new URI(root).getPath.stripSuffix("/") + "/", new URI(filePath).getPath)
      require(path.startsWith(dir), s"$filePath is not under the table root $root")
      path.substring(dir.length)
    }
  }

  /** `read` of the parquet table at `inputDir`; a directory with no data
    * files fails — an empty unit set must never read as a clean verdict.
    */
  private[graft] def readParquet(read: DataFrameReader, inputDir: String): DataFrame =
    try read.parquet(inputDir)
    catch {
      case e: AnalysisException if e.getCondition == "UNABLE_TO_INFER_SCHEMA" =>
        throw new IllegalArgumentException(noUnits(inputDir), e)
    }

  private def noUnits(inputDir: String): String =
    s"no parquet units found under $inputDir — refusing to treat an empty unit set as a valid table"

  /** Open a parquet table directory (any Hadoop URI or local path),
    * read with `schema` when given, else with the schema inferred from
    * one footer. The convenience `runValidation(spark, inputDir, …)`
    * overload infers from one footer; `ValidateTableMain` passes its
    * pinned schema. A Hive-partitioned layout lists recursively; zero
    * data files is a hard error.
    */
  def openTable(spark: SparkSession, inputDir: String, schema: Option[StructType] = None): Table = {
    val df = readParquet(schema.fold(spark.read)(spark.read.schema(_)), inputDir)
    val relation = df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r }
      .getOrElse(throw new IllegalStateException(s"$inputDir did not open as a file relation"))
    val files = relation.location.inputFiles.toSeq.map(f => filePathForm(new URI(f)))
    require(files.nonEmpty, noUnits(inputDir))
    // one root (a glob listing several fails in unitName); a one-file table's is its directory
    val root = filePathForm(relation.location.rootPaths.head.toUri)
    val table = Table(df, if (files == Seq(root)) root.substring(0, root.lastIndexOf('/')) else root,
      files, relation.dataSchema.fieldNames.toSeq)
    table.copy(files = files.sortBy(table.unitName))
  }

  /** `_metadata.file_path`'s form of a file URI: rebuilt from its
    * components, so an empty authority is dropped (a `file:///x` table
    * root lists its files as `file:///x/…`, but the scan reports
    * `file:/x/…`; a filter built from the listing as-is prunes every
    * file).
    */
  private def filePathForm(u: URI): String =
    new URI(u.getScheme, u.getAuthority, u.getPath, null, null).toString

  private type Counts = mutable.HashMap[String, Array[Long]]

  /** Per-unit counts as one typed aggregate over (unit name, flags):
    * unit name -> [rows, rows with flag 0 set, rows with flag 1 set, …].
    */
  private object UnitCounts extends Aggregator[(String, Array[Boolean]), Counts, Map[String, Array[Long]]] {
    override def zero: Counts = mutable.HashMap.empty
    override def reduce(b: Counts, a: (String, Array[Boolean])): Counts = {
      val (unit, flags) = a
      val c = b.getOrElseUpdate(unit, new Array[Long](flags.length + 1))
      c(0) += 1
      var i = 0
      while (i < flags.length) { if (flags(i)) c(i + 1) += 1; i += 1 }
      b
    }
    override def merge(b1: Counts, b2: Counts): Counts = {
      b2.foreach { case (unit, c2) =>
        b1.get(unit) match {
          case Some(c1) => c1.indices.foreach(i => c1(i) += c2(i))
          case None => b1(unit) = c2
        }
      }
      b1
    }
    override def finish(b: Counts): Map[String, Array[Long]] = b.toMap
    override def bufferEncoder: Encoder[Counts] = Encoders.kryo[Counts]
    override def outputEncoder: Encoder[Map[String, Array[Long]]] =
      ExpressionEncoder[Map[String, Array[Long]]]()
  }

  private val unitCounts = udaf(UnitCounts)

  /** Observe per-unit counts of `df` (keyed by its `unit` column)
    * inside whatever action later runs it.
    */
  private def observeUnits(df: DataFrame, obs: Observation, flags: Seq[Column]): DataFrame =
    df.observe(obs, unitCounts(col("unit"), array(flags: _*).cast("array<boolean>")).as("m"))

  /** An observation's per-unit counts, or None when Catalyst removed
    * the observed node because its plan was provably empty.
    */
  private def countsOf(obs: Observation): Option[collection.Map[String, collection.Seq[Long]]] =
    obs.get.get("m").map(_.asInstanceOf[collection.Map[String, collection.Seq[Long]]])

  private def footerRows(spark: SparkSession, filePath: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new Path(new URI(filePath)), spark.sparkContext.hadoopConfiguration)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }

  val DefaultBatchSize = 64

  def runValidation(spark: SparkSession, inputDir: String, schema: TableSchema,
                    outDir: String, manifestPath: String,
                    batchSize: Int = DefaultBatchSize): Seq[UnitResult] =
    runValidation(openTable(spark, inputDir), schema, outDir, manifestPath, batchSize)

  private val BatchDir = """batch=(\d+)""".r

  /** Delete every uncommitted `batch=<id>/` under the violations
    * directory `outDir` (rows written by a batch whose append never
    * landed whole). Any other entry there (the per-unit `unit=…/`
    * directories or the stream sink's part files and `_spark_metadata/`
    * of earlier versions) fails before anything is deleted.
    */
  private def dropUncommitted(spark: SparkSession, outDir: String, committed: Set[Long]): Unit = {
    val dir = new Path(outDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batches = (if (fs.exists(dir)) fs.listStatus(dir).toSeq else Nil).map { e =>
      e.getPath.getName match {
        case BatchDir(id) if e.isDirectory => e.getPath -> id.toLong
        case n => throw new IllegalArgumentException(s"$outDir holds $n, which is not a batch=<id> " +
          "directory of this layout (an earlier version wrote it); validate into a fresh output directory")
      }
    }
    batches.collect { case (p, id) if !committed(id) => p }.foreach(fs.delete(_, true))
  }

  /** Run validation over all pending units of an opened table in
    * BATCHES of `batchSize` files per Spark job (a sequential
    * one-job-per-unit loop is driver-bound at 100k+ lake files: each
    * submission costs scheduler round-trips regardless of data volume).
    * Per batch ONE job, the violations write to `outDir/batch=<id>/`:
    *
    *  1. the batch is the table's relation filtered on
    *     `_metadata.file_path`, which Spark prunes at file listing — no
    *     per-batch listing or schema inference; lineage is the same
    *     column, mapped to the unit name in a plain `unit` column;
    *  2. the manifest's per-unit metrics are observed inside that write:
    *     rows and per-column null counts on the input, violation counts
    *     on the emitted rows — nothing is read back. A unit the input
    *     observation never saw must have an empty footer, or the run
    *     fails: a path-form mismatch would otherwise record a full file
    *     as 0 rows and 0 violations.
    *
    * A batch's manifest entries are appended, in one write, only after
    * its write completes. Ids continue past every id the manifest names
    * and uncommitted `batch=` directories are deleted first, so a kill
    * mid-batch redoes exactly that batch. Returns results for units
    * processed in THIS run.
    */
  def runValidation(table: Table, schema: TableSchema, outDir: String, manifestPath: String,
                    batchSize: Int): Seq[UnitResult] = {
    val spark = table.df.sparkSession
    val (done, lastId) = committed(manifestPath)
    dropUncommitted(spark, outDir, done.map(_.batch).toSet)
    val doneUnits = done.map(_.unit).toSet
    val pending = table.files.filterNot(f => doneUnits(table.unitName(f)))
    val filePath = table.df.metadataColumn("_metadata").getField("file_path")
    val nullFlags = table.dataColumns.map(c => tableColumn(c).isNull)
    // every batch projects the data columns plus a string `unit`: compile once, before any write
    val checks = Validator.checksOf(
      table.df.select(table.dataColumns.map(tableColumn) :+ lit(null).cast("string").as("unit"): _*), schema)
    pending.grouped(batchSize).zipWithIndex.flatMap { case (batch, i) =>
      val t0 = System.nanoTime()
      val id = lastId + 1 + i
      // one map lookup per row; a path that matches no unit FAILS
      // LOUDLY (a silent null would record rows=0/violations=0)
      val unitExpr = coalesce(
        try_element_at(typedLit(batch.map(f => f -> table.unitName(f)).toMap), filePath),
        raise_error(concat(lit("file not in batch lineage: "), filePath)).cast("string"))
      val input = table.df.filter(filePath.isin(batch: _*))
        .select(table.dataColumns.map(tableColumn) :+ unitExpr.as("unit"): _*)
      val (inObs, vioObs) = (Observation(), Observation())
      val violations = Validator.violationsForChecks(observeUnits(input, inObs, nullFlags), checks,
          Seq("conv_id", "turn_idx"), carryCols = Seq("unit"))
        .select(col("conv_id"), col("turn_idx").cast("int").as("turn_idx"),
          col("pointer"), col("constraint"), col("actual"), col("unit"))
      observeUnits(violations, vioObs, Nil).write.mode("overwrite").parquet(s"$outDir/batch=$id")

      val seen = countsOf(inObs).getOrElse {
        // no checks (or checks that fold to true): the validator plan is
        // provably empty and Catalyst pruned the observed scan with it
        val obs = Observation()
        observeUnits(input, obs, nullFlags).write.format("noop").mode("overwrite").save()
        countsOf(obs).getOrElse(throw new IllegalStateException("batch metrics were not observed"))
      }
      val vios = countsOf(vioObs)
        .getOrElse(throw new IllegalStateException("batch violation counts were not observed"))
      val metrics = batch.map { f =>
        val unit = table.unitName(f)
        seen.get(unit) match {
          case Some(c) => (unit, c.head, table.dataColumns.zip(c.tail).toMap)
          case None =>
            val n = footerRows(spark, f)
            if (n != 0) throw new IllegalStateException(
              s"unit $unit has $n rows but the batch scan saw none of them (file path form mismatch?)")
            (unit, 0L, table.dataColumns.map(_ -> 0L).toMap)
        }
      }
      val batchWallMs = (System.nanoTime() - t0) / 1000000
      val results = metrics.map { case (unit, rows, nulls) =>
        val nVios = vios.get(unit).fold(0L)(_.head)
        UnitResult(unit, rows, nVios, nVios == 0, batchWallMs, batch.size, nulls)
      }
      appendResults(manifestPath, id, results)
      results
    }.toSeq
  }
}
