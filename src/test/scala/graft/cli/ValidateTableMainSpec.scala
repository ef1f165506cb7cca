package graft.cli

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.temporal.ChronoUnit
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.SparkTestBase
import graft.checkpoint.Checkpoint
import graft.compile.{TableSchema, TableSchemaCompiler}
import graft.sources.TranscriptGen
import graft.stats.Stats

/** The CLI run end to end: verdict counts and `stats/` against counts
  * made in plain Scala over the collected table, on the generated tables
  * and on hostile keyspaces (no roots, many duplicates, NULL key parts,
  * one hot conversation); re-runs over a directory that gains files
  * (the files each run reads, its resume from a manifest cut inside a
  * batch); and the schema pin with its drift exit.
  */
class ValidateTableMainSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  private val schema = TableSchemaCompiler
    .compileString(graft.compile.Fixtures.flagshipSchema).toOption.get

  private def tmp(): String = Files.createTempDirectory("graft_cli").toString

  /** A run that must not report drift. */
  private def verdict(in: String, out: String, schema: TableSchema = schema): ValidateTableMain.Verdict =
    ValidateTableMain.run(spark, schema, in, out).fold(d => fail(s"run reported drift: $d"), identity)

  private def writeTable(dir: String, defects: TranscriptGen.Defects): Unit =
    TranscriptGen.generate(spark, 100, 10, defects).repartition(4).write.parquet(dir)

  /** (row violations, duplicate keys, orphan rows) under the NULL rule of
    * `Integrity`: a key with a NULL part is never a duplicate, a NULL
    * `conv_id` is never an orphan.
    */
  private def expected(dir: String, extraViolations: Row => Int = _ => 0): (Long, Long, Long) = {
    val rows = spark.read.parquet(dir).collect().toSeq
    val keys = rows.map(r => (r.getAs[String]("conv_id"), r.getAs[Integer]("turn_idx")))
      .filter { case (c, t) => c != null && t != null }
      .groupBy(identity)
    val rooted = rows.filter(r => r.getAs[Integer]("turn_idx") == 0).map(_.getAs[String]("conv_id")).toSet
    (rows.map(r => FlagshipRecount.rowViolations(r) + extraViolations(r)).sum.toLong,
      keys.count(_._2.size > 1).toLong,
      rows.count(r => r.getAs[String]("conv_id") != null && !rooted(r.getAs[String]("conv_id"))).toLong)
  }

  private def statsRows(out: String): Set[Row] = spark.read.parquet(s"$out/stats").collect().toSet

  /** `stats/` of a run over `in`: one part file holding exactly the rows
    * `Stats.profileLong` gives over the table, with each column's count
    * and nulls as plain Scala counts them.
    */
  private def checkStats(in: String, out: String): Unit = {
    val table = spark.read.parquet(in)
    val cols = table.columns.toSeq
    val profile = Stats.profileLong(table, cols)
    val stats = spark.read.parquet(s"$out/stats")
    stats.schema.map(f => f.name -> f.dataType) shouldBe profile.schema.map(f => f.name -> f.dataType)
    Files.list(Paths.get(out, "stats")).iterator.asScala
      .count(_.getFileName.toString.startsWith("part-")) shouldBe 1
    statsRows(out) shouldBe profile.collect().toSet

    val rows = table.collect().toSeq
    val counted = stats.collect().map(r =>
      r.getAs[String]("column") -> ((r.getAs[Long]("cnt"), r.getAs[Long]("null_count")))).toMap
    counted shouldBe cols.map(c => c -> ((rows.size.toLong, rows.count(_.isNullAt(table.schema.fieldIndex(c))).toLong))).toMap
  }

  /** Run the CLI over `df` written as a 4-file table; check its verdict
    * and `stats/` against plain Scala and return the verdict. A schema
    * that declares columns beyond the flagship's counts their
    * violations with `extraViolations`.
    */
  private def runChecked(df: DataFrame, schema: TableSchema = schema,
                         extraViolations: Row => Int = _ => 0): ValidateTableMain.Verdict = {
    val (in, out) = (tmp() + "/in", tmp())
    df.repartition(4).write.parquet(in)
    val (rowVios, dups, orphans) = expected(in, extraViolations)
    val v = verdict(in, out, schema)
    (v.rowViolations, v.duplicateKeys, v.orphanRows) shouldBe ((rowVios, dups, orphans))
    checkStats(in, out)
    v
  }

  /** The parquet files a Spark write to `staging` left. */
  private def parts(staging: String): List[java.nio.file.Path] =
    Files.list(Paths.get(staging)).iterator.asScala.filter(_.toString.endsWith(".parquet")).toList

  private case class Added(units: Seq[String], rows: Long, violations: Long)

  /** Move `convs` dirty conversations into `in` as `files` new parquet
    * files, their mtime set `ageDays` before now, and return their unit
    * names (sorted), their row count and the violations a plain-Scala recount
    * finds in them.
    */
  private def addFiles(in: String, convs: Int, files: Int = 2, ageDays: Int = 0): Added = {
    val staging = tmp() + "/t"
    TranscriptGen.generate(spark, convs, 10, TranscriptGen.all).repartition(files).write.parquet(staging)
    val rows = spark.read.parquet(staging).collect()
    Files.createDirectories(Paths.get(in))
    val mtime = FileTime.from(java.time.Instant.now().minus(ageDays.toLong, ChronoUnit.DAYS))
    val moved = parts(staging).map(f => Files.move(f, Paths.get(in, f.getFileName.toString)))
    moved.foreach(Files.setLastModifiedTime(_, mtime))
    Added(moved.map(_.getFileName.toString).sorted, rows.length.toLong, rows.map(FlagshipRecount.rowViolations(_).toLong).sum)
  }

  /** (rows, violations) the manifest records for `units`. */
  private def unitMetrics(out: String, units: Seq[String]): (Long, Long) = {
    val ms = Checkpoint.completedMetrics(s"$out/manifest.jsonl").filter(m => units.contains(m._1))
    ms.map(_._1).sorted shouldBe units.sorted
    (ms.map(_._2).sum, ms.map(_._3).sum)
  }

  private def storedViolations(out: String): Long = spark.read.parquet(s"$out/violations").count()

  private def manifestLines(out: String): Seq[String] =
    Files.readAllLines(Paths.get(out, "manifest.jsonl")).asScala.toSeq

  /** Run `body`; return the root paths under `dir` of every file scan the
    * query listener saw while it ran.
    */
  private def scansUnder[T](dir: String)(body: => T): (T, Seq[String]) = {
    val (r, queries) = QueryScans.under(spark, dir)(body)
    (r, queries.flatten)
  }

  /** Write `df` as the one parquet file `in/name`. */
  private def writeFile(df: DataFrame, in: String, name: String): Unit = {
    val staging = tmp() + "/t"
    df.coalesce(1).write.parquet(staging)
    Files.createDirectories(Paths.get(in))
    Files.move(parts(staging).head, Paths.get(in, name), StandardCopyOption.REPLACE_EXISTING)
  }

  "ValidateTableMain.run" should "pass a clean table with 0/0/0 (empty orphan build side)" in {
    val in = tmp() + "/in"
    writeTable(in, TranscriptGen.clean)
    val v = verdict(in, tmp())
    v shouldBe ValidateTableMain.Verdict(4, 4, 0L, 0L, 0L)
  }

  it should "count a dirty table's violations, duplicate keys and orphan rows as plain Scala does" in {
    val (in, out) = (tmp() + "/in", tmp())
    writeTable(in, TranscriptGen.all)
    val (rowVios, dups, orphans) = expected(in)
    Seq(rowVios, dups, orphans).foreach(_ should be > 0L)
    val v = verdict(in, out)
    (v.rowViolations, v.duplicateKeys, v.orphanRows) shouldBe ((rowVios, dups, orphans))
    v.pendingUnits shouldBe 4
    checkStats(in, out)
    spark.read.parquet(s"$out/stats").filter(col("null_count") > 0).count() should be > 0L
  }

  it should "give the same verdict on a re-run, with 0 pending units" in {
    val in = tmp() + "/in"
    writeTable(in, TranscriptGen.all)
    val out = tmp()
    val first = verdict(in, out)
    val firstStats = statsRows(out)
    val second = verdict(in, out)
    second.pendingUnits shouldBe 0
    second shouldBe first.copy(pendingUnits = 0)
    statsRows(out) shouldBe firstStats
    checkStats(in, out)
  }

  it should "report 0 new rows, the same totals and exit 2 on a re-run with no new files" in {
    val (in, out) = (tmp() + "/in", tmp())
    val added = Seq(addFiles(in, 30), addFiles(in, 20))
    val first = verdict(in, out)
    first.rowViolations shouldBe added.map(_.violations).sum
    // the same outDir as a file: URI continues the same manifest
    val (second, scans) = scansUnder(s"$out/violations")(ValidateTableMain.run(spark, schema, in, s"file://$out"))
    scans shouldBe empty
    manifestLines(out).size shouldBe 4
    unitMetrics(out, added.flatMap(_.units)) shouldBe ((added.map(_.rows).sum, added.map(_.violations).sum))
    second shouldBe Right(first.copy(pendingUnits = 0))
    ValidateTableMain.exitCode(second) shouldBe 2
  }

  it should "profile a map column by count and nulls, with null min/max/distinct" in {
    val (in, out) = (tmp() + "/in", tmp())
    TranscriptGen.generate(spark, 100, 10, TranscriptGen.all)
      .withColumn("meta", when(col("role") === "tool", map(lit("tool"), col("tool"))))
      .repartition(4).write.parquet(in)
    verdict(in, out)
    checkStats(in, out)
    val meta = spark.read.parquet(s"$out/stats").filter(col("column") === "meta").collect().head
    meta.getAs[Long]("null_count") should be > 0L
    Seq("min_value", "max_value", "approx_distinct").foreach(f => meta.isNullAt(meta.fieldIndex(f)) shouldBe true)
  }

  it should "scan the input once per batch, once for the keyspace and once for the orphan join-back" in {
    val (in, out) = (tmp() + "/in", tmp())
    // more files than one batch holds: two batch writes
    TranscriptGen.generate(spark, 100, 10, TranscriptGen.all)
      .repartition(Checkpoint.DefaultBatchSize + 6).write.parquet(in)
    val (v, queries) = QueryScans.under(spark, in)(verdict(in, out))
    val batches = (v.pendingUnits + Checkpoint.DefaultBatchSize - 1) / Checkpoint.DefaultBatchSize
    batches shouldBe 2
    queries.count(_.nonEmpty) shouldBe batches + 2
    checkStats(in, out)
  }

  it should "keep the manifest in the directory a file: URI outDir names" in {
    val (in, out) = (tmp() + "/in", tmp())
    writeTable(in, TranscriptGen.all)
    val first = verdict(in, s"file://$out")
    first.pendingUnits shouldBe 4
    manifestLines(out).size shouldBe 4
    Files.exists(Paths.get(out, "_schema.json")) shouldBe true
    // the plain path and the URI name the same manifest
    verdict(in, out) shouldBe first.copy(pendingUnits = 0)
    verdict(in, s"file://$out").pendingUnits shouldBe 0
    // an outDir the manifest cannot be appended to fails before any batch
    val e = the[IllegalArgumentException] thrownBy ValidateTableMain.run(spark, schema, in, "mem:/graft_out")
    e.getMessage should include("file: URI")
  }

  it should "refuse a path the JVM's file name encoding cannot hold before the first batch" in {
    // a JVM started with no LANG/LC_* has an ASCII file name encoding
    // (sun.jnu.encoding) and gets a non-ASCII argument as U+FFFD; a
    // shell script passes the path's UTF-8 bytes as a user's shell would
    val dir = tmp()
    val schemaFile = Paths.get(dir, "schema.json")
    Files.writeString(schemaFile, graft.compile.Fixtures.flagshipSchema)
    val out = s"$dir/out"
    val script = Paths.get(dir, "run.sh")
    Files.writeString(script, s"""exec "$$@" '$dir/donn\u00e9es_\u00e9/in' '$out'\n""", StandardCharsets.UTF_8)
    val javaBin = Paths.get(sys.props("java.home"), "bin", "java").toString
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
    val pb = new ProcessBuilder((Seq("sh", script.toString, javaBin) ++ jvmArgs ++
      Seq("-Xmx1g", "-cp", sys.props("java.class.path"), "graft.cli.ValidateTableMain", schemaFile.toString)).asJava)
    Seq("LANG", "LC_ALL", "LC_CTYPE").foreach(pb.environment().remove)
    val proc = pb.redirectErrorStream(true).start()
    val log = new String(proc.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    withClue(log) {
      proc.waitFor() should not be 0
      // the path as the ASCII encoding prints it, the encoding and the fix
      log should include regex (java.util.regex.Pattern.quote(s"path $dir/donn") + "\\?+es_\\?+/in cannot be encoded")
      log should include regex "file name encoding [A-Za-z0-9_.-]+; run under a UTF-8 locale \\(e\\.g\\. LANG=C\\.UTF-8\\)"
      Files.exists(Paths.get(out)) shouldBe false
    }
  }

  it should "call every row of a table with no roots an orphan" in {
    val v = runChecked(TranscriptGen.generate(spark, 100, 10).filter(col("turn_idx") =!= 0))
    v.orphanRows shouldBe 900L
    v.duplicateKeys shouldBe 0L
  }

  it should "count many duplicate keys once each" in {
    val t = TranscriptGen.generate(spark, 100, 10)
    val v = runChecked(t.unionByName(t).unionByName(t.filter(col("turn_idx") < 3)))
    v.duplicateKeys shouldBe 1000L
    v.orphanRows shouldBe 0L
  }

  it should "bind key constraints only to non-null key parts" in {
    val t = TranscriptGen.generate(spark, 20, 5)
    val nulled = t.filter(col("conv_id") === "c1")
      .withColumn("conv_id", lit(null).cast("string")) // NULL conv_id, turn_idx 0..4: absent references
      .unionByName(t.filter(col("conv_id") === "c2" && col("turn_idx") === 1)
        .withColumn("turn_idx", lit(null).cast("int"))) // NULL turn_idx in a rooted conversation
      .unionByName(t.filter(col("conv_id") === "c3" && col("turn_idx") > 0)
        .withColumn("conv_id", lit("c99"))) // a rootless conversation
    val keyless = t.filter(col("conv_id") === "c4" && col("turn_idx") === 2)
      .withColumn("turn_idx", lit(null).cast("int")) // NULL turn_idx, no root
      .withColumn("conv_id", lit("c98"))
    val v = runChecked(t.unionByName(nulled).unionByName(nulled).unionByName(keyless).unionByName(keyless))
    // the twice-added NULL-part keys are no duplicates; c99's 8 rows and
    // c98's 2 NULL-turn rows are orphans, the NULL conv_id rows are not
    v.duplicateKeys shouldBe 4L // c99's 4 keys, each twice
    v.orphanRows shouldBe 10L
  }

  it should "handle one hot conversation of 10^5 turns" in {
    val hot = TranscriptGen.generate(spark, 1, 100000)
    val rest = TranscriptGen.generate(spark, 50, 10, TranscriptGen.all).filter(col("conv_id") =!= "c0")
    val v = runChecked(hot.unionByName(rest))
    v.rowViolations should be > (100000L - 4097L)
  }

  it should "take dots and backticks in column names as part of the name" in {
    // an undeclared `meta.src`, a declared `a.b` with a minimum, a
    // declared name holding a backtick with a maxLength
    val hostile = TableSchemaCompiler.compileString("""
      { "type": "object", "properties": {
          "a.b": { "type": "integer", "minimum": 0 },
          "we`ird": { "type": "string", "maxLength": 2 } } }""").toOption.get
    val t = TranscriptGen.generate(spark, 100, 10, TranscriptGen.all)
      .withColumn("meta.src", when(col("turn_idx") % 3 =!= 0, concat(lit("src"), col("turn_idx").cast("string"))))
      .withColumn("a.b", when(col("turn_idx") % 5 =!= 0, col("turn_idx") - 3))
      .withColumn("we`ird", when(col("turn_idx") % 4 =!= 0, substring(col("conv_id"), 1, 3)))
    def tooSmall(r: Row) = Option(r.getAs[Integer]("a.b")).exists(_ < 0)
    def tooLong(r: Row) = Option(r.getAs[String]("we`ird")).exists(_.length > 2)
    val v = runChecked(t, schema.copy(columns = schema.columns ++ hostile.columns),
      r => Seq(tooSmall(r), tooLong(r)).count(identity))
    val rows = t.collect()
    rows.count(tooSmall) should be > 0
    rows.count(tooLong) should be > 0
    v.rowViolations should be > rows.map(FlagshipRecount.rowViolations).sum.toLong
  }

  it should "validate only the files a re-run finds new, with totals from the manifest, reading no output back" in {
    val (in, out) = (tmp() + "/in", tmp())
    val first = addFiles(in, 40)
    val (r1, scans1) = scansUnder(s"$out/violations")(ValidateTableMain.run(spark, schema, in, out))
    val second = addFiles(in, 25)
    val (r2, scans2) = scansUnder(s"$out/violations")(ValidateTableMain.run(spark, schema, in, out))
    Seq(first, second).foreach(_.violations should be > 0L)
    (scans1 ++ scans2) shouldBe empty
    val (v1, v2) = (r1.toOption.get, r2.toOption.get)

    (v1.pendingUnits, v2.pendingUnits, v2.manifestUnits) shouldBe ((2, 2, 4))
    v1.rowViolations shouldBe first.violations
    // the second run validated exactly the new files, in one new batch
    unitMetrics(out, second.units) shouldBe ((second.rows, second.violations))
    spark.read.parquet(s"$out/violations/batch=1").count() shouldBe second.violations
    Files.list(Paths.get(out, "violations")).iterator.asScala.map(_.getFileName.toString).toSeq.sorted shouldBe
      Seq("batch=0", "batch=1")
    (v2.rowViolations, storedViolations(out)) shouldBe ((first.violations + second.violations, v2.rowViolations))
    // integrity and stats cover the whole grown table
    (v2.rowViolations, v2.duplicateKeys, v2.orphanRows) shouldBe expected(in)
    checkStats(in, out)
    ValidateTableMain.exitCode(r2) shouldBe 2
  }

  it should "read only the appended file in a re-run's validation write" in {
    val (in, out) = (tmp() + "/in", tmp())
    addFiles(in, 40, files = 4)
    verdict(in, out)
    val added = addFiles(in, 10, files = 1)
    // per query, the files its scans read: the batch write reads the new
    // file, the orphan join-back the whole table. The keyspace write reads
    // the whole table too, below its cached relation, whose scan this
    // listener does not open (the scan-count case above sees it).
    val (v2, read2) = QueryScans.filesReadUnder(spark, in)(verdict(in, out))
    read2 shouldBe Seq(1L, 5L)
    v2.pendingUnits shouldBe 1
    unitMetrics(out, added.units) shouldBe ((added.rows, added.violations))
    val (v3, read3) = QueryScans.filesReadUnder(spark, in)(verdict(in, out))
    read3 shouldBe Seq(5L)
    v3 shouldBe v2.copy(pendingUnits = 0)
  }

  it should "validate an appended file whose mtime is 30 days older than the others'" in {
    // a file copied in with its timestamp kept (cp -p, rsync -a) is new
    // by name, whatever its age
    val (in, out) = (tmp() + "/in", tmp())
    val first = addFiles(in, 30)
    verdict(in, out)
    val old = addFiles(in, 20, files = 1, ageDays = 30)
    val fresh = addFiles(in, 20, files = 1)
    val v2 = verdict(in, out)
    old.violations should be > 0L
    v2.pendingUnits shouldBe 2
    unitMetrics(out, old.units) shouldBe ((old.rows, old.violations))
    unitMetrics(out, fresh.units) shouldBe ((fresh.rows, fresh.violations))
    v2.rowViolations shouldBe first.violations + old.violations + fresh.violations
  }

  it should "redo a batch whose manifest lines were cut, keeping the total and exit 2" in {
    val (in, out) = (tmp() + "/in", tmp())
    val first = addFiles(in, 30)
    verdict(in, out)
    val second = addFiles(in, 20)
    val whole = verdict(in, out)
    val total = first.violations + second.violations
    (whole.rowViolations, storedViolations(out)) shouldBe ((total, total))

    // a kill mid-append: the second run's batch keeps half its last line
    val m = Paths.get(out, "manifest.jsonl")
    val bytes = Files.readAllBytes(m)
    Files.write(m, bytes.take(bytes.lastIndexOf('\n'.toByte, bytes.length - 2) + 40))
    val redone = ValidateTableMain.run(spark, schema, in, out)
    redone shouldBe Right(whole)
    unitMetrics(out, second.units) shouldBe ((second.rows, second.violations))
    storedViolations(out) shouldBe total
    ValidateTableMain.exitCode(redone) shouldBe 2
    verdict(in, out).pendingUnits shouldBe 0
  }

  it should "end in exit 3 when a pinned column vanished" in {
    import spark.implicits._
    val (in, out) = (tmp() + "/in", tmp())
    addFiles(in, 10)
    verdict(in, out)
    org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(in))
    Seq(("c1", 0)).toDF("conv_id", "turn_idx").write.mode("overwrite").parquet(in)
    val r = ValidateTableMain.run(spark, schema, in, out)
    r.left.toOption.get should include("text: missing")
    ValidateTableMain.exitCode(r) shouldBe 3
  }

  it should "check every file for a column that only some files hold" in {
    import spark.implicits._
    // each file lacks a column the other holds violating values of, so a
    // schema inferred from either footer alone leaves a column unchecked
    val xy = TableSchemaCompiler.compileString("""
      { "type": "object", "properties": {
          "conv_id": { "type": "string" }, "turn_idx": { "type": "integer" },
          "x": { "type": "string", "maxLength": 2 }, "y": { "type": "string", "maxLength": 2 } } }""").toOption.get
    val in = tmp() + "/in"
    writeFile(Seq(("c1", 0, "toolong"), ("c1", 1, "ok")).toDF("conv_id", "turn_idx", "y"), in, "part-0.parquet")
    writeFile(Seq(("c2", 0, "toolong"), ("c2", 1, "toolong"), ("c2", 2, "ok")).toDF("conv_id", "turn_idx", "x"),
      in, "part-1.parquet")
    val out = tmp()
    val r = ValidateTableMain.run(spark, xy, in, out)
    r shouldBe Right(ValidateTableMain.Verdict(2, 2, 3L, 0L, 0L))
    spark.read.parquet(s"$out/violations").select("pointer", "constraint").as[(String, String)].collect().sorted shouldBe
      Seq(("/c1/0/y", "maxLength"), ("/c2/0/x", "maxLength"), ("/c2/1/x", "maxLength"))
    ValidateTableMain.exitCode(r) shouldBe 2
  }

  it should "end in exit 3 when a committed file is rewritten with turn_idx as a string" in {
    // whichever file is rewritten, the drift is found: the one-footer
    // check samples the first file by path, and the whole-table integrity
    // read through the pin fails on the other
    val found = Seq(0, 1).map { k =>
      val (in, out) = (tmp() + "/in", tmp())
      val added = addFiles(in, 20)
      verdict(in, out)
      val file = Paths.get(in, added.units(k)).toString
      writeFile(spark.read.parquet(file).withColumn("turn_idx", col("turn_idx").cast("string")), in, added.units(k))
      val r = ValidateTableMain.run(spark, schema, in, out)
      withClue(s"file $k: ") {
        ValidateTableMain.exitCode(r) shouldBe 3
      }
      r.left.toOption.get
    }
    found.head should include("turn_idx: int -> string")
    found.last should include("failed its read")
    found.last should include("column [turn_idx]") // Spark's message names the file and the column
  }

  "pinOrCheckSchema" should "pin on first run and accept an unchanged directory" in {
    import spark.implicits._
    val (in, out) = freshDirs()
    Seq((1L, "a")).toDF("id", "text").write.mode("append").parquet(in)
    val first = pin(in, out)
    first.isRight shouldBe true
    Files.exists(Paths.get(out, "_schema.json")) shouldBe true
    // second invocation, same files: same pinned schema back
    pin(in, out) shouldBe first
  }

  it should "flag a type conflict among the initial files at pin time" in {
    import spark.implicits._
    val (in, out) = freshDirs()
    Seq((1L, "a")).toDF("id", "text").write.mode("append").parquet(in)
    Seq(("oops", "b")).toDF("id", "text").write.mode("append").parquet(in)
    // first run merges every footer: the conflict is drift, not a crash
    val drift = pin(in, out)
    drift.isLeft shouldBe true
    drift.left.toOption.get.toLowerCase should include("incompatible")
  }

  it should "classify a mid-batch read failure on a drifted file as drift" in {
    // the pin check samples ONE footer (O(1) in total file count), so a
    // drifted file can first surface as a task failure inside a read; the
    // CLI maps that to exit 3 via this classifier
    val convert = new org.apache.spark.sql.execution.datasources
      .SchemaColumnConvertNotSupportedException("id", "INT64", "BINARY")
    val wrapped = new RuntimeException("stage failed",
      new RuntimeException("task failed", convert))
    ValidateTableMain.isSchemaDriftFailure(wrapped) shouldBe true
    ValidateTableMain.isSchemaDriftFailure(
      new RuntimeException("disk full", new java.io.IOException("no space"))) shouldBe false
  }

  it should "flag a pinned column that vanished or changed type wholesale" in {
    import spark.implicits._
    val (in, out) = freshDirs()
    Seq((1L, "a")).toDF("id", "text").write.mode("append").parquet(in)
    pin(in, out).isRight shouldBe true
    // compaction rewrote the directory without the pinned text column
    org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(in))
    Seq(Tuple1(2L)).toDF("id").write.mode("overwrite").parquet(in)
    val drift = pin(in, out)
    drift.isLeft shouldBe true
    drift.left.toOption.get should include("text: missing")
  }

  it should "tolerate an added column (ignored until re-pinned)" in {
    import spark.implicits._
    val (in, out) = freshDirs()
    Seq((1L, "a")).toDF("id", "text").write.mode("append").parquet(in)
    val pinned = pin(in, out)
    Seq((2L, "b", 3.5)).toDF("id", "text", "score").write.mode("append").parquet(in)
    val again = pin(in, out)
    again.isRight shouldBe true
    // the validator keeps reading with the PINNED schema
    again shouldBe pinned
  }

  private def freshDirs(): (String, String) = (tmp(), tmp())

  private def pin(in: String, out: String) =
    ValidateTableMain.pinOrCheckSchema(spark, in, out)
}
