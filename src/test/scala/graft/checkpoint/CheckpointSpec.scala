package graft.checkpoint

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.SparkTestBase
import graft.compile.TableSchemaCompiler
import graft.sources.TranscriptGen
import org.apache.spark.sql.functions._

/** FIXTURES.md §4 "resume": run with manifest, drop completed entries,
  * re-run -> the same violation rows; manifest records lineage + metrics.
  */
class CheckpointSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  private val schema = TableSchemaCompiler
    .compileString(graft.compile.Fixtures.flagshipSchema).toOption.get

  private def tmp(): String = Files.createTempDirectory("graft_ckpt").toString

  private def writeInput(dir: String): Unit =
    TranscriptGen.generate(spark, 40, 10,
      TranscriptGen.Defects(badEnumRole = true, negativeTurnIdx = true))
      .repartition(4).write.mode("overwrite").parquet(dir)

  private def readAllViolations(outDir: String): Seq[String] =
    spark.read.parquet(s"$outDir/*")
      .collect().map(_.toString).sorted.toSeq

  /** The table's data files, as absolute local paths. */
  private def dataFiles(dir: String): Seq[String] =
    Files.walk(Paths.get(dir)).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".parquet") && !p.getFileName.toString.startsWith("."))
      .map(_.toAbsolutePath.toString).sorted

  /** Rows and per-column null counts of every data file, counted in
    * plain Scala over the rows of that file alone, keyed by the file's
    * path relative to `dir`.
    */
  private def perFileCounts(dir: String): Map[String, (Long, Map[String, Long])] =
    dataFiles(dir).map { f =>
      val df = spark.read.parquet(f)
      val rows = df.collect()
      f.stripPrefix(dir + "/") -> (rows.length.toLong,
        df.columns.zipWithIndex.map { case (c, i) => c -> rows.count(_.isNullAt(i)).toLong }.toMap)
    }.toMap

  private def metricsOf(rs: Seq[Checkpoint.UnitResult]): Map[String, (Long, Map[String, Long])] =
    rs.map(r => r.unit -> (r.rows, r.nullCounts)).toMap

  "Checkpoint.openTable" should "discover units recursively and refuse an empty unit set" in {
    // Hive-partitioned layout: parquet files live in subdirectories —
    // the old top-level listing returned ZERO units and the run printed
    // "valid table" without validating a row
    val in = tmp() + "/in"
    TranscriptGen.generate(spark, 10, 4).write.parquet(s"$in/date=a")
    TranscriptGen.generate(spark, 10, 4).write.parquet(s"$in/date=b")
    val table = Checkpoint.openTable(spark, in)
    val units = table.files
    units should not be empty
    all(units) should endWith(".parquet")
    units.exists(_.contains("date=a")) shouldBe true
    units.exists(_.contains("date=b")) shouldBe true
    all(units.map(table.unitName)) should fullyMatch regex "date=[ab]/part-[^/]*\\.parquet"
    // a single file is a one-unit table named by its file name
    val one = Checkpoint.openTable(spark, units.head)
    one.files.map(one.unitName) shouldBe Seq(units.head.substring(units.head.lastIndexOf('/') + 1))
    // an empty directory must be a loud error, never a clean verdict
    val emptyDir = tmp() + "/empty"
    Files.createDirectories(java.nio.file.Paths.get(emptyDir))
    an[IllegalArgumentException] should be thrownBy Checkpoint.openTable(spark, emptyDir).files
  }

  "Checkpoint" should "record one manifest entry per unit with metrics" in {
    val in = tmp() + "/in"; val out = tmp()
    writeInput(in)
    val results = Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl")
    results.size shouldBe 4
    results.map(_.rows).sum shouldBe 400L
    results.map(_.violations).sum should be > 0L
    results.count(_.passed == false) should be >= 1
    Checkpoint.completedMetrics(s"$out/manifest.jsonl").size shouldBe 4
    // wall-clock (batch-level, honest measurement) and lineage present
    all(results.map(_.batchWallMs)) should be >= 0L
    all(results.map(_.batchSize)) shouldBe 4
    // per-partition metrics: per-column null counts ride in the manifest
    results.map(_.nullCounts.keySet) foreach
      (_ shouldBe Set("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    results.map(_.nullCounts("tool")).sum should be > 0L // non-tool rows
    results.map(_.nullCounts("conv_id")).sum shouldBe 0L
    val line = Files.readAllLines(Paths.get(s"$out/manifest.jsonl")).get(0)
    line should include(""""null_counts":{""")
  }

  it should "skip completed units on re-run (resume is incremental)" in {
    val in = tmp() + "/in"; val out = tmp()
    writeInput(in)
    val first = Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl")
    first.size shouldBe 4
    val second = Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl")
    second shouldBe empty
    // the verdict source of truth survives the no-op re-run: full-manifest
    // metrics still carry every unit's rows and violations
    val metrics = Checkpoint.completedMetrics(s"$out/manifest.jsonl")
    metrics.size shouldBe 4
    metrics.map(_._2).sum shouldBe first.map(_.rows).sum
    metrics.map(_._3).sum shouldBe first.map(_.violations).sum
    metrics.map(_._3).sum should be > 0L
  }

  it should "produce byte-identical violations after a simulated partial failure" in {
    val in = tmp() + "/in"
    writeInput(in)

    // full uninterrupted run
    val outFull = tmp()
    Checkpoint.runValidation(spark, in, schema, s"$outFull/v", s"$outFull/manifest.jsonl")
    val expected = readAllViolations(s"$outFull/v")

    // interrupted run: keep only the first 2 manifest entries (simulating
    // a kill after unit 2), then resume
    val outPart = tmp()
    Checkpoint.runValidation(spark, in, schema, s"$outPart/v", s"$outPart/manifest.jsonl")
    val manifest = Paths.get(s"$outPart/manifest.jsonl")
    val lines = Files.readAllLines(manifest).asScala.toList
    Files.write(manifest, lines.take(2).asJava)
    val resumed = Checkpoint.runValidation(spark, in, schema, s"$outPart/v", s"$outPart/manifest.jsonl")
    resumed.size shouldBe 4 // the cut batch (all 4 units) re-ran whole

    readAllViolations(s"$outPart/v") shouldBe expected
    Checkpoint.completedMetrics(manifest.toString).size shouldBe 4
  }

  it should "keep lineage correct for paths input_file_name URI-encodes" in {
    // a space in the directory name makes input_file_name() return an
    // encoded URI; a naive string match would silently record 0 rows
    val in = tmp() + "/with space/in"
    writeInput(in)
    val out = tmp()
    val rs = Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl")
    rs.size shouldBe 4
    rs.map(_.rows).sum shouldBe 400L
    rs.map(_.violations).sum should be > 0L
  }

  it should "not corrupt a literal '+' in a path (percent-decoding, not form-urlencoding)" in {
    // url_decode semantics would turn '+' into a space, break the lineage
    // match, and abort the run via raise_error — a legit filename must work
    val in = tmp() + "/v+1/in"
    writeInput(in)
    val out = tmp()
    val rs = Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl")
    rs.size shouldBe 4
    rs.map(_.rows).sum shouldBe 400L
  }

  it should "keep lineage apart for file names with space, '+' and '%' in one batch" in {
    // 'a b.parquet' and 'a%20b.parquet' are two units: the listing, the
    // file filter and the lineage map share one path form, so neither
    // can be taken for the other
    val in = tmp() + "/in"
    writeInput(in)
    dataFiles(in).zip(Seq("a b.parquet", "a+b.parquet", "a%20b.parquet", "c%d.parquet"))
      .foreach { case (f, name) => Files.move(Paths.get(f), Paths.get(in, name)) }
    val out = tmp()
    val rs = Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl")
    rs.map(r => new java.io.File(r.unit).getName).toSet shouldBe
      Set("a b.parquet", "a+b.parquet", "a%20b.parquet", "c%d.parquet")
    metricsOf(rs) shouldBe perFileCounts(in)
    rs.map(_.violations).sum should be > 0L
  }

  it should "handle a batch size far above the unit count (lookup map stays O(1))" in {
    val in = tmp() + "/in"
    writeInput(in)
    val out = tmp()
    val rs = Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl",
      batchSize = 512)
    rs.size shouldBe 4
    rs.map(_.rows).sum shouldBe 400L
    all(rs.map(_.batchSize)) shouldBe 4 // actual batch, not the cap
  }

  it should "batch units into group jobs and stay resume-correct across batch boundaries" in {
    val in = tmp() + "/in"
    TranscriptGen.generate(spark, 70, 10,
      TranscriptGen.Defects(badEnumRole = true, negativeTurnIdx = true))
      .repartition(7).write.mode("overwrite").parquet(in)

    // reference: everything in one batch
    val outFull = tmp()
    val full = Checkpoint.runValidation(spark, in, schema, s"$outFull/v", s"$outFull/manifest.jsonl",
      batchSize = 64)
    full.size shouldBe 7
    full.map(_.rows).sum shouldBe 700L
    val expected = readAllViolations(s"$outFull/v")

    // small batches + a kill that lands mid-"batch plan" (keep 2 of 7
    // entries, not a multiple of batchSize): the cut first batch is
    // uncommitted, so resume redoes all 7 units and converges to the
    // same violation rows and metrics
    val outPart = tmp()
    Checkpoint.runValidation(spark, in, schema, s"$outPart/v", s"$outPart/manifest.jsonl",
      batchSize = 3)
    val manifest = Paths.get(s"$outPart/manifest.jsonl")
    val lines = Files.readAllLines(manifest).asScala.toList
    lines.size shouldBe 7
    Files.write(manifest, lines.take(2).asJava)
    val resumed = Checkpoint.runValidation(spark, in, schema, s"$outPart/v", s"$outPart/manifest.jsonl",
      batchSize = 3)
    resumed.size shouldBe 7

    readAllViolations(s"$outPart/v") shouldBe expected
    val fullMetrics = Checkpoint.completedMetrics(s"$outFull/manifest.jsonl")
      .map { case (u, r, v) => (u.substring(u.lastIndexOf('/') + 1), r, v) }.sorted
    val partMetrics = Checkpoint.completedMetrics(s"$outPart/manifest.jsonl")
      .map { case (u, r, v) => (u.substring(u.lastIndexOf('/') + 1), r, v) }.sorted
    partMetrics shouldBe fullMetrics
  }

  /** A 7-file dirty table, a reference run of it in one batch and a
    * run in batches of 3, whose manifest `cut` keeps a prefix of and
    * whose violations directory `crash` may then change; resuming that
    * run must reach the reference's violation rows and metrics with no
    * unit counted twice. Returns the resumed units and the `batch=`
    * directories left.
    */
  private def resumeAfterCut(cut: Seq[String] => Seq[String],
                             crash: String => Unit = _ => ()): (Seq[String], Seq[String]) = {
    val in = tmp() + "/in"
    TranscriptGen.generate(spark, 70, 10,
      TranscriptGen.Defects(badEnumRole = true, negativeTurnIdx = true))
      .repartition(7).write.mode("overwrite").parquet(in)
    val (outFull, out) = (tmp(), tmp())
    Checkpoint.runValidation(spark, in, schema, s"$outFull/v", s"$outFull/manifest.jsonl", batchSize = 64)
    val m = Paths.get(s"$out/manifest.jsonl")
    Checkpoint.runValidation(spark, in, schema, s"$out/v", m.toString, batchSize = 3)
    Files.write(m, cut(Files.readAllLines(m).asScala.toList).asJava)
    crash(s"$out/v")
    val resumed = Checkpoint.runValidation(spark, in, schema, s"$out/v", m.toString, batchSize = 3)
    readAllViolations(s"$out/v") shouldBe readAllViolations(s"$outFull/v")
    val metrics = Checkpoint.completedMetrics(m.toString)
    metrics.map(_._1).distinct.size shouldBe 7
    metrics.sorted shouldBe Checkpoint.completedMetrics(s"$outFull/manifest.jsonl").sorted
    (resumed.map(_.unit), batchDirs(s"$out/v"))
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    Files.walk(from).iterator().asScala.toList.foreach(p => Files.copy(p, to.resolve(from.relativize(p))))

  private def batchDirs(dir: String): Seq[String] =
    Files.list(Paths.get(dir)).iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("batch=")).toSeq.sorted

  it should "re-run a whole batch whose manifest lines were cut inside it" in {
    // batches of 3, 3 and 1 units: keep batch 0 and 2 of batch 1's 3 lines
    val (resumed, dirs) = resumeAfterCut(_.take(5))
    resumed.size shouldBe 4 // batch 1's 3 units and batch 2's 1
    dirs shouldBe Seq("batch=0", "batch=2", "batch=3") // ids continue past the cut batch's
  }

  it should "re-run only the later batches when the manifest is cut at a batch boundary" in {
    val (resumed, dirs) = resumeAfterCut(_.take(6))
    resumed.size shouldBe 1
    dirs shouldBe Seq("batch=0", "batch=1", "batch=2")
  }

  it should "delete a batch directory no manifest line names, without duplicating its rows" in {
    // a crash between a batch's write and its manifest append leaves its
    // rows under an id the manifest never names
    val (resumed, dirs) = resumeAfterCut(_.take(6), v => copyTree(Paths.get(v, "batch=1"), Paths.get(v, "batch=9")))
    resumed.size shouldBe 1
    dirs shouldBe Seq("batch=0", "batch=1", "batch=2")
  }

  it should "count rows and nulls of a table with a struct column" in {
    val in = tmp() + "/in"
    TranscriptGen.generate(spark, 30, 6, TranscriptGen.Defects(nullRole = true))
      .withColumn("meta", when(col("turn_idx") % 3 === 0, lit(null))
        .otherwise(struct(col("role").as("r"), col("turn_idx").as("i"))))
      .repartition(3).write.parquet(in)
    val out = tmp()
    val rs = Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl")
    metricsOf(rs) shouldBe perFileCounts(in)
    rs.map(_.nullCounts("meta")).sum should be > 0L
  }

  it should "record a 0-row unit file as 0 rows with zero null counts" in {
    val in = tmp() + "/in"
    writeInput(in)
    val empty = tmp() + "/empty"
    spark.read.parquet(in).limit(0).coalesce(1).write.parquet(empty)
    Files.copy(Paths.get(dataFiles(empty).head), Paths.get(in, "empty.parquet"))
    val out = tmp()
    val rs = Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl")
    rs.size shouldBe 5
    val counts = perFileCounts(in)
    counts("empty.parquet")._1 shouldBe 0L
    all(counts("empty.parquet")._2.values) shouldBe 0L
    metricsOf(rs) shouldBe counts
  }

  it should "count rows and nulls under a schema that compiles to zero checks" in {
    val in = tmp() + "/in"
    writeInput(in)
    val permissive = TableSchemaCompiler
      .compileString("""{"type":"object","properties":{"text":{}}}""").toOption.get
    val out = tmp()
    val rs = Checkpoint.runValidation(spark, in, permissive, s"$out/v", s"$out/manifest.jsonl")
    metricsOf(rs) shouldBe perFileCounts(in)
    all(rs.map(_.violations)) shouldBe 0L
  }

  it should "validate a table given as a file: URI with the same unit names" in {
    val in = tmp() + "/in"
    writeInput(in)
    val out = tmp()
    val rs = Checkpoint.runValidation(spark, s"file://$in", schema, s"$out/v", s"$out/manifest.jsonl")
    rs.map(_.unit) shouldBe dataFiles(in).map(_.stripPrefix(in + "/"))
    metricsOf(rs) shouldBe perFileCounts(in)
    rs.map(_.violations).sum should be > 0L
  }

  it should "fail loudly, writing no manifest line, when the scan misses a non-empty unit" in {
    // a file list in a path form the scan does not report prunes every
    // file: the run must fail, never record the units as 0 rows
    val in = tmp() + "/in"
    writeInput(in)
    val table = Checkpoint.openTable(spark, in)
    val mismatched = table.copy(files = table.files.map(_.replaceFirst("^file:/", "file:///")))
    val out = tmp()
    val ex = intercept[IllegalStateException] {
      Checkpoint.runValidation(mismatched, schema, s"$out/v", s"$out/manifest.jsonl",
        batchSize = Checkpoint.DefaultBatchSize)
    }
    ex.getMessage should include("the batch scan saw none of them")
    Checkpoint.completedMetrics(s"$out/manifest.jsonl") shouldBe empty
  }

  /** Every path under `dir` with its size (-1 for a directory). */
  private def tree(dir: String): Map[String, Long] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .map(p => p.toString -> (if (Files.isDirectory(p)) -1L else Files.size(p))).toMap

  it should "refuse an outDir in the per-unit layout before writing anything" in {
    val in = tmp() + "/in"
    writeInput(in)
    // a `unit=` directory of the per-unit layout, or the part files and
    // `_spark_metadata/` a Structured Streaming file sink wrote, each next
    // to a batch directory that the cleanup would delete if it ran first
    val layouts: Seq[String => Unit] = Seq(
      out => Seq("unit=part-0_1a2b3c4d", "batch=3").foreach(d => Files.createDirectories(Paths.get(out, "v", d))),
      { out =>
        Seq("_spark_metadata", "batch=3").foreach(d => Files.createDirectories(Paths.get(out, "v", d)))
        Files.writeString(Paths.get(out, "v", "_spark_metadata", "0"), "v1\n")
        Files.writeString(Paths.get(out, "v", "part-00000-0a1b.snappy.parquet"), "PAR1")
      })
    layouts.foreach { layout =>
      val out = tmp()
      layout(out)
      val before = tree(out)
      val e = the[IllegalArgumentException] thrownBy
        Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl")
      e.getMessage should include(s"$out/v")
      e.getMessage should include("fresh output directory")
      tree(out) shouldBe before
    }

    // a manifest line without a batch id, from the same layout
    val out2 = tmp()
    Checkpoint.runValidation(spark, in, schema, s"$out2/v", s"$out2/manifest.jsonl")
    val m = Paths.get(s"$out2/manifest.jsonl")
    Files.write(m, Files.readAllLines(m).asScala.map(_.replace(""""batch":0,""", "")).asJava)
    Files.createDirectories(Paths.get(out2, "v", "batch=3"))
    val before2 = tree(out2)
    val e2 = the[IllegalArgumentException] thrownBy
      Checkpoint.runValidation(spark, in, schema, s"$out2/v", m.toString)
    e2.getMessage should include(m.toString)
    e2.getMessage should include("fresh output directory")
    tree(out2) shouldBe before2
  }

  it should "emit the plain validator's violation rows at batch sizes 1, 3 and 64" in {
    val in = tmp() + "/in"
    TranscriptGen.generate(spark, 70, 10, TranscriptGen.all).repartition(7).write.parquet(in)
    val table = spark.read.parquet(in)
    val cols = Seq(col("conv_id"), col("turn_idx").cast("int"), col("pointer"), col("constraint"), col("actual"))
    def multiset(df: org.apache.spark.sql.DataFrame): Seq[String] = df.select(cols: _*).collect().map(_.toString).sorted.toSeq
    val expected = multiset(graft.exprs.Validator.violations(table, schema, Seq("conv_id", "turn_idx")))
    val total = graft.exprs.Validator.violationTotal(table, schema).head.getLong(0)
    expected should not be empty
    expected.size.toLong shouldBe total
    Seq(1, 3, 64).foreach { n =>
      val out = tmp()
      Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl", batchSize = n)
      multiset(spark.read.parquet(s"$out/v")) shouldBe expected
      Checkpoint.completedMetrics(s"$out/manifest.jsonl").map(_._3).sum shouldBe total
      batchDirs(s"$out/v").size shouldBe (7 + n - 1) / n
    }
  }

  /** Cut the manifest's last line after `keep(line)` of its bytes, as a
    * kill mid-append leaves it, and resume: the cut unit's batch (all
    * of the run's units) is validated again and its records land whole
    * on lines of their own.
    */
  private def resumeAfterTornTail(write: String => Unit)(keep: Array[Byte] => Int): Unit = {
    val (in, out) = (tmp() + "/in", tmp())
    write(in)
    val m = Paths.get(s"$out/manifest.jsonl")
    val first = Checkpoint.runValidation(spark, in, schema, s"$out/v", m.toString)
    val bytes = Files.readAllBytes(m)
    val lastStart = bytes.lastIndexOf('\n'.toByte, bytes.length - 2) + 1
    Files.write(m, bytes.take(lastStart + keep(bytes.drop(lastStart))))
    val resumed = Checkpoint.runValidation(spark, in, schema, s"$out/v", m.toString)
    resumed.map(_.unit) shouldBe first.map(_.unit)
    Checkpoint.completedMetrics(m.toString).sorted shouldBe first.map(r => (r.unit, r.rows, r.violations)).sorted
    Checkpoint.runValidation(spark, in, schema, s"$out/v", m.toString) shouldBe empty
  }

  "Checkpoint.appendResults" should "start a fresh line after a torn last manifest line" in {
    resumeAfterTornTail(writeInput)(_.length / 2)
  }

  "Checkpoint.completedMetrics" should "skip a last manifest line cut inside a multibyte character" in {
    // the column name rides in the line's null_counts as raw UTF-8
    resumeAfterTornTail { in =>
      TranscriptGen.generate(spark, 40, 10, TranscriptGen.Defects(badEnumRole = true))
        .withColumn("donn\u00e9es_\u00e9", col("role")).repartition(4).write.parquet(in)
    } { line =>
      line.indexOf(0xc3.toByte) + 1 // between the two bytes of the first é
    }
  }

  "Checkpoint.toJson" should "escape control characters so each record stays one JSON line" in {
    val m = tmp() + "/manifest.jsonl"
    val units = Seq("/t/a\nb.parquet", "/t/tab\there \"q\" back\\slash\u0001.parquet")
    Checkpoint.appendResults(m, 0L, units.zipWithIndex.map { case (u, i) =>
      Checkpoint.UnitResult(u, 10L + i, i.toLong, i == 0,
        batchWallMs = 5, batchSize = 2, nullCounts = Map("col\nname" -> 1L, "plain" -> 0L))
    })
    val lines = Files.readAllLines(Paths.get(m)).asScala.toSeq
    lines.size shouldBe 2
    lines.head should include("a\\nb.parquet")
    lines(1) should include("\\u0001")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    lines.map(l => json.readTree(l).get("unit").asText()) shouldBe units
    json.readTree(lines.head).get("null_counts").get("col\nname").asLong() shouldBe 1L
    Checkpoint.completedMetrics(m) shouldBe Seq((units(0), 10L, 0L), (units(1), 11L, 1L))
  }

  "Checkpoint.completedMetrics" should "resume from a manifest line with lower-case hex escapes" in {
    // earlier manifests wrote a control character's hex digits in lower
    // case (ESC: 001b); the JSON codec writes upper case and reads both
    val esc = 27.toChar
    val in = tmp() + "/in"
    writeInput(in)
    dataFiles(in).foreach(f => Files.move(Paths.get(f), Paths.get(f.replace("part-", s"part${esc}-"))))
    val out = tmp()
    val m = s"$out/manifest.jsonl"
    val first = Checkpoint.runValidation(spark, in, schema, s"$out/v", m)
    first.size shouldBe 4
    val lines = Files.readAllLines(Paths.get(m)).asScala.toSeq
    all(lines) should include("\\u001B")
    Files.write(Paths.get(m), lines.map(_.replace("\\u001B", "\\u001b")).asJava)
    Checkpoint.runValidation(spark, in, schema, s"$out/v", m) shouldBe empty
    Checkpoint.completedMetrics(m) shouldBe first.map(r => (r.unit, r.rows, r.violations))
  }
}
