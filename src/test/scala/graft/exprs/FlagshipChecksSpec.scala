package graft.exprs

import scala.io.Source
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.types.StructType
import graft.SparkTestBase
import graft.compile.{Fixtures, TableSchemaCompiler}

/** Golden of the flagship schema's compiled checks, the plan the
  * benchmark's flagship run validates with. `golden/flagship_checks.tsv`
  * holds the physical schema of the benchmark's flagship input (as Spark
  * reads it from the footer of a file `clibench/gen.py flagship_batch`
  * writes), then one line per check: column, constraint, and the
  * analyzed text of `ok` and `actual` with expression ids dropped. A
  * compiler change that alters the flagship plan fails here.
  */
class FlagshipChecksSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark

  "the flagship schema" should "compile to the pinned checks over the benchmark input's physical schema" in {
    val golden = Source.fromResource("golden/flagship_checks.tsv").getLines().toList
    val physical = StructType.fromDDL(golden.head)
    val df = spark.createDataFrame(java.util.Collections.emptyList[Row](), physical)
    val ts = TableSchemaCompiler.compileString(Fixtures.flagshipSchema).fold(e => fail(e), identity)
    val checks = ConstraintCompiler.compile(ts, physical).fold(e => fail(e), identity)
    checks.map { c =>
      val Project(exprs, _) = df.select(c.ok, c.actual).queryExecution.analyzed
      val Seq(ok, actual) = exprs.map {
        case a: Alias => a.child.toString.replaceAll("#[0-9]+", "")
        case e => e.toString.replaceAll("#[0-9]+", "")
      }
      Seq(c.column, c.constraint, ok, actual).mkString("\t")
    } shouldBe golden.tail
  }
}
