package graft.cli

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.matchers.should.Matchers._

/** The file scans of the queries a block of code runs, as a query
  * listener sees them.
  */
object QueryScans {

  /** Run `body`; return, for every query the listener saw while it ran,
    * the root paths under `dir` of the file scans in its analyzed plan
    * (a scan below a persisted node counts in every query that uses it).
    */
  def under[T](spark: SparkSession, dir: String)(body: => T): (T, Seq[Seq[String]]) = {
    val seen = new ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe.analyzed)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe.analyzed)
    }
    spark.listenerManager.register(listener)
    val result =
      try {
        val r = body
        // listener events are delivered in order: once this marker query
        // is seen, every query `body` ran has been seen too
        spark.range(1).toDF("scan_marker").collect()
        def marked = seen.asScala.exists(_.output.exists(_.name == "scan_marker"))
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!marked && System.nanoTime() < deadline) Thread.sleep(20)
        marked shouldBe true
        r
      } finally spark.listenerManager.unregister(listener)
    val queries = seen.asScala.toSeq.filterNot(_.output.exists(_.name == "scan_marker"))
    (result, queries.map(_.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.toUri.getPath) }
      .flatten.filter(_.startsWith(dir))))
  }
}
