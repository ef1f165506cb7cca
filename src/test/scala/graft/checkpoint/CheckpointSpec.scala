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
  * re-run -> identical outputs; manifest records lineage + metrics.
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
    * plain Scala over the rows of that file alone.
    */
  private def perFileCounts(dir: String): Map[String, (Long, Map[String, Long])] =
    dataFiles(dir).map { f =>
      val df = spark.read.parquet(f)
      val rows = df.collect()
      f -> (rows.length.toLong,
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
    val units = Checkpoint.openTable(spark, in).files
    units should not be empty
    all(units) should endWith(".parquet")
    units.exists(_.contains("date=a")) shouldBe true
    units.exists(_.contains("date=b")) shouldBe true
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
    Checkpoint.completedUnits(s"$out/manifest.jsonl").size shouldBe 4
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
    resumed.size shouldBe 2 // only the 2 un-checkpointed units re-ran

    readAllViolations(s"$outPart/v") shouldBe expected
    Checkpoint.completedUnits(manifest.toString).size shouldBe 4
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
    // entries, not a multiple of batchSize): resume must redo exactly
    // the 5 missing units and converge to identical outputs and metrics
    val outPart = tmp()
    Checkpoint.runValidation(spark, in, schema, s"$outPart/v", s"$outPart/manifest.jsonl",
      batchSize = 3)
    val manifest = Paths.get(s"$outPart/manifest.jsonl")
    val lines = Files.readAllLines(manifest).asScala.toList
    lines.size shouldBe 7
    Files.write(manifest, lines.take(2).asJava)
    val resumed = Checkpoint.runValidation(spark, in, schema, s"$outPart/v", s"$outPart/manifest.jsonl",
      batchSize = 3)
    resumed.size shouldBe 5

    readAllViolations(s"$outPart/v") shouldBe expected
    val fullMetrics = Checkpoint.completedMetrics(s"$outFull/manifest.jsonl")
      .map { case (u, r, v) => (u.substring(u.lastIndexOf('/')), r, v) }.sorted
    val partMetrics = Checkpoint.completedMetrics(s"$outPart/manifest.jsonl")
      .map { case (u, r, v) => (u.substring(u.lastIndexOf('/')), r, v) }.sorted
    partMetrics shouldBe fullMetrics
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
    counts(s"$in/empty.parquet")._1 shouldBe 0L
    all(counts(s"$in/empty.parquet")._2.values) shouldBe 0L
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
    rs.map(_.unit) shouldBe dataFiles(in)
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

  it should "fail loudly before the first batch when unit keys collide across batches" in {
    // "Aa" and "BB" have one String.hashCode, so the two paths share a
    // unit key: batch 2's overwrite of `unit=<key>/` would delete batch 1's rows
    "Aa".hashCode shouldBe "BB".hashCode
    val in = tmp() + "/in"
    Seq("Aa", "BB").foreach { x =>
      val dir = s"$in/x=$x"
      TranscriptGen.generate(spark, 4, 3, TranscriptGen.Defects(badEnumRole = true))
        .coalesce(1).write.parquet(s"$dir/tmp")
      Files.move(Paths.get(dataFiles(s"$dir/tmp").head), Paths.get(s"$dir/part.parquet"))
      Files.walk(Paths.get(s"$dir/tmp")).iterator().asScala.toSeq.reverse.foreach(Files.delete)
    }
    val out = tmp()
    val ex = intercept[IllegalArgumentException] {
      Checkpoint.runValidation(spark, in, schema, s"$out/v", s"$out/manifest.jsonl", batchSize = 1)
    }
    ex.getMessage should include("unit keys collide")
    ex.getMessage should include(s"$in/x=Aa/part.parquet / $in/x=BB/part.parquet")
    Files.exists(Paths.get(s"$out/manifest.jsonl")) shouldBe false
    Files.exists(Paths.get(s"$out/v")) shouldBe false
  }

  /** Cut the manifest's last line after `keep(line)` of its bytes, as a
    * kill mid-append leaves it, and resume: the cut unit is validated
    * again and its record lands whole on a line of its own.
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
    resumed.map(_.unit) shouldBe Seq(first.last.unit)
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
    Checkpoint.appendResults(m, units.zipWithIndex.map { case (u, i) =>
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
    val in = tmp() + s"/in${esc}dir"
    writeInput(in)
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
