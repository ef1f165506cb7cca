package graft.cli

import java.nio.file.Files
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import graft.SparkTestBase
import graft.compile.TableSchemaCompiler
import graft.sources.TranscriptGen

/** The CLI run end to end: verdict counts against counts made in plain
  * Scala over the collected table.
  */
class ValidateTableMainSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  private val schema = TableSchemaCompiler
    .compileString(graft.compile.Fixtures.flagshipSchema).toOption.get

  private def tmp(): String = Files.createTempDirectory("graft_cli").toString

  private def writeTable(dir: String, defects: TranscriptGen.Defects): Unit =
    TranscriptGen.generate(spark, 100, 10, defects).repartition(4).write.parquet(dir)

  private def expected(dir: String): (Long, Long, Long) = {
    val rows = spark.read.parquet(dir).collect().toSeq
    val keys = rows.groupBy(r => (r.getAs[String]("conv_id"), r.getAs[Integer]("turn_idx")))
    val rooted = rows.filter(r => r.getAs[Integer]("turn_idx") == 0).map(_.getAs[String]("conv_id")).toSet
    (rows.map(FlagshipRecount.rowViolations).sum.toLong,
      keys.count(_._2.size > 1).toLong,
      rows.count(r => r.getAs[String]("conv_id") != null && !rooted(r.getAs[String]("conv_id"))).toLong)
  }

  "ValidateTableMain.run" should "pass a clean table with 0/0/0 (empty orphan build side)" in {
    val in = tmp() + "/in"
    writeTable(in, TranscriptGen.clean)
    val v = ValidateTableMain.run(spark, schema, in, tmp())
    v shouldBe ValidateTableMain.Verdict(4, 4, 0L, 0L, 0L)
  }

  it should "count a dirty table's violations, duplicate keys and orphan rows as plain Scala does" in {
    val in = tmp() + "/in"
    writeTable(in, TranscriptGen.all)
    val (rowVios, dups, orphans) = expected(in)
    Seq(rowVios, dups, orphans).foreach(_ should be > 0L)
    val v = ValidateTableMain.run(spark, schema, in, tmp())
    (v.rowViolations, v.duplicateKeys, v.orphanRows) shouldBe ((rowVios, dups, orphans))
    v.pendingUnits shouldBe 4
  }

  it should "give the same verdict on a re-run, with 0 pending units" in {
    val in = tmp() + "/in"
    writeTable(in, TranscriptGen.all)
    val out = tmp()
    val first = ValidateTableMain.run(spark, schema, in, out)
    val second = ValidateTableMain.run(spark, schema, in, out)
    second.pendingUnits shouldBe 0
    second shouldBe first.copy(pendingUnits = 0)
  }
}
