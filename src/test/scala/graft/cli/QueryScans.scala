package graft.cli

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.matchers.should.Matchers._

/** The file scans of the queries a block of code runs, as a query
  * listener sees them.
  */
object QueryScans extends AdaptiveSparkPlanHelper {

  /** Run `body`; return every query the listener saw while it ran. */
  private def record[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    def isMarker(qe: QueryExecution) = qe.analyzed.output.exists(_.name == "scan_marker")
    spark.listenerManager.register(listener)
    val result =
      try {
        val r = body
        // listener events are delivered in order: once this marker query
        // is seen, every query `body` ran has been seen too
        spark.range(1).toDF("scan_marker").collect()
        def marked = seen.asScala.exists(isMarker)
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!marked && System.nanoTime() < deadline) Thread.sleep(20)
        marked shouldBe true
        r
      } finally spark.listenerManager.unregister(listener)
    (result, seen.asScala.toSeq.filterNot(isMarker))
  }

  /** Run `body`; return, for every query the listener saw while it ran,
    * the root paths under `dir` of the file scans in its analyzed plan
    * (a scan below a persisted node counts in every query that uses it).
    */
  def under[T](spark: SparkSession, dir: String)(body: => T): (T, Seq[Seq[String]]) = {
    val (result, queries) = record(spark)(body)
    (result, queries.map(_.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.toUri.getPath) }
      .flatten.filter(_.startsWith(dir))))
  }

  /** Run `body`; return, for every query the listener saw while it ran
    * that scanned a table rooted under `dir`, the number of files its
    * physical scans read after file pruning.
    */
  def filesReadUnder[T](spark: SparkSession, dir: String)(body: => T): (T, Seq[Long]) = {
    val (result, queries) = record(spark)(body)
    (result, queries.map(qe => collect(qe.executedPlan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(dir)) =>
        s.metrics("numFiles").value
    }).filter(_.nonEmpty).map(_.sum))
  }
}
