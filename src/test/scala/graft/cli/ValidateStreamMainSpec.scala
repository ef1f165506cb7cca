package graft.cli

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.SparkTestBase
import graft.compile.TableSchemaCompiler
import graft.sources.TranscriptGen

/** The streaming CLI pass by pass: each pass's counts against a
  * plain-Scala recount of the files it added, its report line, its exit
  * code, and the recovery when the report lags the stream's logs.
  */
class ValidateStreamMainSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  private val schema = TableSchemaCompiler
    .compileString(graft.compile.Fixtures.flagshipSchema).toOption.get

  private def tmp(): String = Files.createTempDirectory("graft_stream").toString

  private case class Added(rows: Long, violations: Long)

  /** Move `convs` dirty conversations into `in` as new parquet files and
    * return their row count and the violations a plain-Scala recount
    * finds in them.
    */
  private def addFiles(in: String, convs: Int): Added = {
    val staging = tmp() + "/t"
    TranscriptGen.generate(spark, convs, 10, TranscriptGen.all).repartition(2).write.parquet(staging)
    val rows = spark.read.parquet(staging).collect()
    Files.createDirectories(Paths.get(in))
    Files.list(Paths.get(staging)).iterator.asScala.filter(_.toString.endsWith(".parquet")).toList
      .foreach(f => Files.move(f, Paths.get(in, f.getFileName.toString)))
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

  private def reportLines(out: String): Seq[String] =
    Files.readAllLines(Paths.get(out, "stream_report.jsonl")).asScala.toSeq

  private def writeReport(out: String, text: String): Unit =
    Files.writeString(Paths.get(out, "stream_report.jsonl"), text)

  /** Run `body`; return the root paths under `dir` of every file scan the
    * query listener saw while it ran.
    */
  private def scansUnder[T](dir: String)(body: => T): (T, Seq[String]) = {
    val (r, queries) = QueryScans.under(spark, dir)(body)
    (r, queries.flatten)
  }

  "ValidateStreamMain.run" should "count two passes' new violations in-stream, reading no output back" in {
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
    p2.lastBatchId shouldBe p1.lastBatchId + 1
    p1.totalViolationRows shouldBe first.violations
    p2.totalViolationRows shouldBe storedViolations(out)
    printed2.total shouldBe p2.totalViolationRows
    ValidateStreamMain.exitCode(Right(p2)) shouldBe 2

    val lines = reportLines(out)
    lines.size shouldBe 2
    lines(1) shouldBe s"""{"last_batch_id":${p2.lastBatchId},"input_rows":${second.rows},""" +
      s""""new_violation_rows":${second.violations},""" +
      s""""total_violation_rows":${first.violations + second.violations}}"""
  }

  it should "report 0 new rows, the same total and exit 2 on a pass with no new files" in {
    val (in, out) = (tmp() + "/in", tmp())
    addFiles(in, 30)
    addFiles(in, 20)
    val (p1, _) = passOk(in, out)
    // the same outDir as a file: URI: the pass continues the same report
    val ((p2, printed), scans) = scansUnder(s"$out/violations")(passOk(in, s"file://$out"))
    scans shouldBe empty
    reportLines(out).size shouldBe 2
    (p2.newViolationRows, printed.added, p2.inputRows) shouldBe ((0L, 0L, 0L))
    (p2.totalViolationRows, printed.total) shouldBe ((p1.totalViolationRows, p1.totalViolationRows))
    p2.lastBatchId shouldBe p1.lastBatchId
    ValidateStreamMain.exitCode(Right(p2)) shouldBe 2
  }

  it should "recount once when the report's last line was dropped or torn, and never exit 0 over violations" in {
    val (in, out) = (tmp() + "/in", tmp())
    val first = addFiles(in, 30)
    passOk(in, out)
    val second = addFiles(in, 20)
    passOk(in, out)
    val total = storedViolations(out)
    total shouldBe first.violations + second.violations

    // dropped: the stream committed batch 1 but its report line is gone
    writeReport(out, reportLines(out).head + "\n")
    val ((dropped, printed), recount) = scansUnder(s"$out/violations")(passOk(in, out))
    recount should not be empty // the one read-back recovery makes
    (dropped.newViolationRows, dropped.totalViolationRows, printed.total) shouldBe ((0L, total, total))
    ValidateStreamMain.exitCode(Right(dropped)) shouldBe 2

    // torn: a crash mid-append left half a line with no newline
    val lines = reportLines(out)
    writeReport(out, lines.init.mkString("", "\n", "\n") + lines.last.take(lines.last.length / 2))
    val torn = passOk(in, out)._1
    (torn.newViolationRows, torn.totalViolationRows) shouldBe ((0L, total))
    ValidateStreamMain.exitCode(Right(torn)) shouldBe 2

    // the recovered line was appended whole, so the next pass trusts it
    val (after, scans) = scansUnder(s"$out/violations")(passOk(in, out)._1)
    scans shouldBe empty
    after.totalViolationRows shouldBe total
  }

  it should "recount when the sink committed a batch the checkpoint's commit log lacks" in {
    val (in, out) = (tmp() + "/in", tmp())
    val first = addFiles(in, 30)
    val (p1, _) = passOk(in, out)
    // a pass died after the sink wrote batch 0 and before the commit log
    // and the report recorded it: the next pass re-runs the batch, and
    // the sink skips it as already written
    Files.delete(Paths.get(out, "_checkpoint", "commits", p1.lastBatchId.toString))
    Files.deleteIfExists(Paths.get(out, "_checkpoint", "commits", s".${p1.lastBatchId}.crc"))
    writeReport(out, "")
    val (p2, _) = passOk(in, out)
    p2.totalViolationRows shouldBe first.violations
    storedViolations(out) shouldBe first.violations
    ValidateStreamMain.exitCode(Right(p2)) shouldBe 2
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
