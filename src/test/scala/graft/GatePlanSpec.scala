package graft

import scala.io.Source
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.Exchange

/** Golden of every gate's plan shape at sf0.001. `golden/gate_plans.tsv`
  * holds one line per gate: its name, the number of `Exchange` nodes in
  * the initial AQE plan, the number of parquet scans, and the sorted
  * distinct `prettyName`s of the `CodegenFallback` expressions in
  * `queryExecution.sparkPlan` (`-` for none). A gate line that names a
  * fallback is preceded by `#` lines saying why it stays. A plan change
  * (an extra shuffle, a lost scan prune, a lambda back on a row path)
  * fails here; the failure prints the whole actual TSV, the golden's
  * `#` lines carried over, for review and to paste.
  */
class GatePlanSpec extends AnyFlatSpec with Matchers {

  private lazy val spark = SparkTestBase.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** The plan's nodes, through subqueries and nested adaptive plans (as
    * first planned, before any stage runs).
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] =
    p.collectWithSubqueries { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
      case n => Seq(n)
    }

  private def planLine(name: String): String = {
    val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
    val exchanges = nodes(qe.executedPlan).count(_.isInstanceOf[Exchange])
    val scans = nodes(qe.sparkPlan).count {
      case s: FileSourceScanExec => s.relation.fileFormat.isInstanceOf[ParquetFileFormat]
      case _ => false
    }
    val fallbacks = qe.sparkPlan.flatMap(_.expressions)
      .flatMap(_.collect { case e: CodegenFallback => e.prettyName }).distinct.sorted
    Seq(name, exchanges, scans, if (fallbacks.isEmpty) "-" else fallbacks.mkString(","))
      .mkString("\t")
  }

  "every gate" should "keep its pinned exchanges, parquet scans and codegen fallbacks" in {
    val golden = Source.fromResource("golden/gate_plans.tsv").getLines().toList
    val comments = golden.foldLeft((Map.empty[String, List[String]], List.empty[String])) {
      case ((acc, pending), l) if l.startsWith("#") => (acc, pending :+ l)
      case ((acc, pending), l) => (acc + (l.takeWhile(_ != '\t') -> pending), Nil)
    }._1
    val pinned = golden.filterNot(_.startsWith("#"))
    val actual = SparkEntry.gates.map(_.name).sorted.map(planLine)
    val unexplained = pinned.filter(l => !l.endsWith("\t-") && comments(l.takeWhile(_ != '\t')).isEmpty)
    if (actual != pinned || unexplained.nonEmpty) {
      val tsv = actual.flatMap(l => comments.getOrElse(l.takeWhile(_ != '\t'), Nil) :+ l)
      println(tsv.mkString("---- actual golden/gate_plans.tsv ----\n", "\n", "\n---- end ----"))
    }
    withClue("fallbacks without a # reason: ")(unexplained shouldBe empty)
    actual.diff(pinned) shouldBe empty
    pinned.diff(actual) shouldBe empty
  }
}
