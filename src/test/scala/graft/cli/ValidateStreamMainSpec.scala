package graft.cli

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import java.time.temporal.ChronoUnit
import scala.jdk.CollectionConverters._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.SparkTestBase
import graft.compile.TableSchemaCompiler
import graft.sources.TranscriptGen

/** The incremental CLI pass by pass: each pass's counts against a
  * plain-Scala recount of the files it added, its exit code, the files
  * it reads, and its resume from a manifest cut inside a batch.
  */
class ValidateStreamMainSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  private val schema = TableSchemaCompiler
    .compileString(graft.compile.Fixtures.flagshipSchema).toOption.get

  private def tmp(): String = Files.createTempDirectory("graft_stream").toString

  private case class Added(rows: Long, violations: Long)

  /** Move `convs` dirty conversations into `in` as `files` new parquet
    * files, their mtime set `ageDays` before now, and return their row
    * count and the violations a plain-Scala recount finds in them.
    */
  private def addFiles(in: String, convs: Int, files: Int = 2, ageDays: Int = 0): Added = {
    val staging = tmp() + "/t"
    TranscriptGen.generate(spark, convs, 10, TranscriptGen.all).repartition(files).write.parquet(staging)
    val rows = spark.read.parquet(staging).collect()
    Files.createDirectories(Paths.get(in))
    val mtime = FileTime.from(java.time.Instant.now().minus(ageDays.toLong, ChronoUnit.DAYS))
    Files.list(Paths.get(staging)).iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
      .foreach(f => Files.setLastModifiedTime(Files.move(f, Paths.get(in, f.getFileName.toString)), mtime))
    Added(rows.length.toLong, rows.map(FlagshipRecount.rowViolations(_).toLong).sum)
  }

  private case class Printed(added: Long, total: Long)

  /** One pass through `run`, with the line it printed. */
  private def pass(in: String, out: String): (Either[String, ValidateStreamMain.Pass], Printed) = {
    val buf = new java.io.ByteArrayOutputStream()
    val r = Console.withOut(buf)(ValidateStreamMain.run(spark, schema, in, out))
    val line = """stream pass: (\d+) new violation rows \((\d+) total at """.r
    val printed = line.findFirstMatchIn(buf.toString("UTF-8"))
      .map(m => Printed(m.group(1).toLong, m.group(2).toLong))
      .getOrElse(Printed(-1, -1))
    (r, printed)
  }

  private def passOk(in: String, out: String): (ValidateStreamMain.Pass, Printed) = {
    val (r, printed) = pass(in, out)
    (r.toOption.getOrElse(fail(s"pass reported drift: $r")), printed)
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

  "ValidateStreamMain.run" should "count two passes' new violations from their batch writes, reading no output back" in {
    val (in, out) = (tmp() + "/in", tmp())
    val first = addFiles(in, 40)
    val ((p1, printed1), scans1) = scansUnder(s"$out/violations")(passOk(in, out))
    val second = addFiles(in, 25)
    val ((p2, printed2), scans2) = scansUnder(s"$out/violations")(passOk(in, out))
    Seq(first, second).foreach(_.violations should be > 0L)
    (scans1 ++ scans2) shouldBe empty

    (p1.newViolationRows, printed1.added) shouldBe ((first.violations, first.violations))
    (p2.newViolationRows, printed2.added) shouldBe ((second.violations, second.violations))
    (p1.inputRows, p2.inputRows) shouldBe ((first.rows, second.rows))
    (p1.units, p2.units) shouldBe ((2, 2))
    p1.totalViolationRows shouldBe first.violations
    p2.totalViolationRows shouldBe storedViolations(out)
    printed2.total shouldBe p2.totalViolationRows
    ValidateStreamMain.exitCode(Right(p2)) shouldBe 2
    // one manifest line per file, in one batch per pass
    manifestLines(out).size shouldBe 4
    Files.list(Paths.get(out, "violations")).iterator.asScala.map(_.getFileName.toString).toSeq.sorted shouldBe
      Seq("batch=0", "batch=1")
  }

  it should "report 0 new rows, the same total and exit 2 on a pass with no new files" in {
    val (in, out) = (tmp() + "/in", tmp())
    addFiles(in, 30)
    addFiles(in, 20)
    val (p1, _) = passOk(in, out)
    // the same outDir as a file: URI: the pass continues the same manifest
    val ((p2, printed), scans) = scansUnder(s"$out/violations")(passOk(in, s"file://$out"))
    scans shouldBe empty
    manifestLines(out).size shouldBe 4
    (p2.units, p2.newViolationRows, printed.added, p2.inputRows) shouldBe ((0, 0L, 0L, 0L))
    (p2.totalViolationRows, printed.total) shouldBe ((p1.totalViolationRows, p1.totalViolationRows))
    ValidateStreamMain.exitCode(Right(p2)) shouldBe 2
  }

  it should "read only the appended file on the next pass, and no data file on an idle pass" in {
    val (in, out) = (tmp() + "/in", tmp())
    addFiles(in, 40, files = 4)
    passOk(in, out)
    val added = addFiles(in, 10, files = 1)
    val ((p2, _), read2) = QueryScans.filesReadUnder(spark, in)(passOk(in, out))
    read2 shouldBe Seq(1L) // one batch write, reading the one new file
    (p2.units, p2.inputRows, p2.newViolationRows) shouldBe ((1, added.rows, added.violations))
    val ((p3, _), read3) = QueryScans.filesReadUnder(spark, in)(passOk(in, out))
    read3 shouldBe empty
    p3.units shouldBe 0
  }

  it should "validate an appended file whose mtime is 30 days older than the others'" in {
    // a file copied in with its timestamp kept (cp -p, rsync -a) is new
    // by name, whatever its age
    val (in, out) = (tmp() + "/in", tmp())
    val first = addFiles(in, 30)
    passOk(in, out)
    val old = addFiles(in, 20, files = 1, ageDays = 30)
    val fresh = addFiles(in, 20, files = 1)
    val (p2, _) = passOk(in, out)
    old.violations should be > 0L
    (p2.inputRows, p2.newViolationRows) shouldBe ((old.rows + fresh.rows, old.violations + fresh.violations))
    p2.totalViolationRows shouldBe first.violations + old.violations + fresh.violations
  }

  it should "redo a batch whose manifest lines were cut, keeping the total and exit 2" in {
    val (in, out) = (tmp() + "/in", tmp())
    val first = addFiles(in, 30)
    passOk(in, out)
    val second = addFiles(in, 20)
    passOk(in, out)
    val total = first.violations + second.violations
    storedViolations(out) shouldBe total

    // a kill mid-append: the second pass's batch keeps half its last line
    val m = Paths.get(out, "manifest.jsonl")
    val bytes = Files.readAllBytes(m)
    Files.write(m, bytes.take(bytes.lastIndexOf('\n'.toByte, bytes.length - 2) + 40))
    val (redone, printed) = passOk(in, out)
    (redone.units, redone.newViolationRows) shouldBe ((2, second.violations))
    (redone.totalViolationRows, printed.total) shouldBe ((total, total))
    storedViolations(out) shouldBe total
    ValidateStreamMain.exitCode(Right(redone)) shouldBe 2
    passOk(in, out)._1.units shouldBe 0
  }

  it should "end in exit 3 when a pinned column vanished" in {
    import spark.implicits._
    val (in, out) = (tmp() + "/in", tmp())
    addFiles(in, 10)
    passOk(in, out)
    org.apache.commons.io.FileUtils.cleanDirectory(new java.io.File(in))
    Seq(("c1", 0)).toDF("conv_id", "turn_idx").write.mode("overwrite").parquet(in)
    val (r, _) = pass(in, out)
    r.left.toOption.get should include("text: missing")
    ValidateStreamMain.exitCode(r) shouldBe 3
  }
}
