package clibench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** In-memory spans for the traced run. Each span sets a Spark job group
  * named after it, so [[JobsByGroup]] can charge every job, task, byte
  * and spill to the span whose call caused it. Spans are flat children
  * of the run; `path` marks the spans that mirror the operator's own
  * call sequence (the rest are measurement-only scans).
  */
final class Trace {
  import Trace.Span
  private val jobs = new JobsByGroup
  private val fallbacks = new FallbackCounter
  private var spark: Option[SparkSession] = None
  private val spans = mutable.ArrayBuffer.empty[Span]

  /** Starts charging jobs to spans; spans before this have no jobs. */
  def attach(session: SparkSession): Unit = {
    session.sparkContext.addSparkListener(jobs)
    fallbacks.install()
    spark = Some(session)
  }

  def span[T](name: String, path: Boolean = true)(f: => T): T = {
    spark.foreach(_.sparkContext.setJobGroup(name, name, interruptOnCancel = false))
    val cg0 = CodeGenerator.compileTime
    val fb0 = fallbacks.count.get
    val t0 = Trace.nowMs
    try f
    finally {
      val t1 = Trace.nowMs
      spark.foreach(_.sparkContext.clearJobGroup())
      spans += Span(name, path, t0, t1, (CodeGenerator.compileTime - cg0) / 1e6,
        fallbacks.count.get - fb0, Map.empty)
    }
  }

  /** Adds driver-side counts to the most recent span called `name`. */
  def count(name: String, values: (String, Double)*): Unit = {
    val i = spans.lastIndexWhere(_.name == name)
    spans(i) = spans(i).copy(counts = spans(i).counts ++ values)
  }

  /** Drains the listener bus and renders every span with its jobs. */
  def json(extra: (String, Double)*): String = {
    spark.foreach(s => org.apache.spark.ListenerDrain.drain(s.sparkContext))
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    def obj(kv: Iterable[(String, Double)]) = kv.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
    val rendered = spans.map { s =>
      val m = jobs.metrics(s.name) ++ s.counts ++
        Seq("codegen_ms" -> s.codegenMs, "codegen_fallbacks" -> s.fallbacks.toDouble)
      s"""{"name":"${s.name}","parent":"run","path":${s.path},"start_ms":${num(s.startMs)},""" +
        s""""end_ms":${num(s.endMs)},"metrics":${obj(m)}}"""
    }
    s"""{"spans":[${rendered.mkString(",\n")}],"run":${obj(extra)}}"""
  }
}

object Trace {
  private final case class Span(name: String, path: Boolean, startMs: Double, endMs: Double,
                                codegenMs: Double, fallbacks: Long, counts: Map[String, Double])

  def nowMs: Double = System.nanoTime() / 1e6
}

/** Counts "Whole-stage codegen disabled" warnings: each one is a stage
  * whose generated code failed to compile and fell back to interpreted
  * evaluation.
  */
final class FallbackCounter
    extends AbstractAppender("clibench-codegen-fallbacks", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong
  override def append(e: LogEvent): Unit =
    if (e.getMessage.getFormattedMessage.contains("Whole-stage codegen disabled")) count.incrementAndGet()

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    start()
    ctx.getConfiguration.getRootLogger.addAppender(this, null, null)
    ctx.updateLoggers()
  }
}

/** Per job-group totals over the jobs, stages and tasks of that group.
  * Scan sizes come from the file scans' `filesSize` SQL metric: task
  * input metrics miss bytes that parquet reads on other threads.
  */
final class JobsByGroup extends SparkListener {
  private final class Acc {
    var jobs = 0L; var tasks = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var output = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val byGroup = mutable.Map.empty[String, Acc]
  private val groupOfStage = mutable.Map.empty[Int, String]
  private val groupOfJob = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  // per stage: task durations and whether it read shuffle output
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageReadsShuffle = mutable.Set.empty[Int]

  private val groupOfExecution = mutable.Map.empty[Long, String]
  private val scannedByExecution = mutable.Map.empty[Long, Long]

  private def acc(g: String) = byGroup.getOrElseUpdate(g, new Acc)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.foreach(groupOfExecution(s.executionId) = _)
    }
    case end: SparkListenerSQLExecutionEnd =>
      val bytes = org.apache.spark.sql.ExecutionEnd.query(end).toSeq
        .flatMap(qe => Plans.nodes(qe.executedPlan))
        .collect { case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L) }.sum
      synchronized { scannedByExecution(end.executionId) = scannedByExecution.getOrElse(end.executionId, 0L) + bytes }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("<none>")
    groupOfJob(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(groupOfStage(_) = g)
    acc(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (g <- groupOfJob.get(e.jobId); t0 <- jobStart.get(e.jobId)) acc(g).intervals += ((t0, e.time))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = groupOfStage.getOrElse(e.stageId, "<none>")
    val a = acc(g)
    a.tasks += 1
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.output += m.outputMetrics.bytesWritten
      if (m.shuffleReadMetrics.totalBlocksFetched > 0) stageReadsShuffle += e.stageId
    }
  }

  /** Wall time covered by at least one job of the group. */
  private def covered(iv: Seq[(Long, Long)]): Long =
    iv.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, end), (s, e)) =>
      if (e <= end) (sum, end)
      else (sum + e - math.max(s, end), e)
    }._1

  /** max/median task time of the group's heaviest shuffle-reading stage. */
  private def skew(g: String): Double = {
    val stages = stageReadsShuffle.filter(s => groupOfStage.get(s).contains(g)).toSeq
      .map(stageTasks(_).toSeq.sorted).filter(_.nonEmpty)
    if (stages.isEmpty) 0.0
    else {
      val heaviest = stages.maxBy(_.sum)
      val median = heaviest(heaviest.size / 2).toDouble
      heaviest.last / math.max(median, 1.0)
    }
  }

  def metrics(g: String): Seq[(String, Double)] = synchronized {
    val a = acc(g)
    Seq(
      "jobs" -> a.jobs.toDouble, "tasks" -> a.tasks.toDouble,
      "task_cpu_s" -> a.cpuNs / 1e9, "task_run_s" -> a.runMs / 1e3, "gc_s" -> a.gcMs / 1e3,
      "shuffle_read_bytes" -> a.shuffleRead.toDouble, "shuffle_write_bytes" -> a.shuffleWrite.toDouble,
      "spill_bytes" -> a.spill.toDouble,
      "input_bytes" -> scannedByExecution.collect { case (id, b) if groupOfExecution.get(id).contains(g) => b }.sum.toDouble,
      "output_bytes" -> a.output.toDouble, "job_s" -> covered(a.intervals.toSeq) / 1e3,
      "task_skew" -> skew(g))
  }
}

object Plans {
  /** Every node of an executed plan: through adaptive plans, query
    * stages, commands' inner plans and subqueries; a reused exchange is
    * not descended into, so its subtree is listed once.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case o =>
      val inner = o.innerChildren.collect { case c: SparkPlan => c }
      o +: (o.children ++ inner ++ o.subqueries).flatMap(nodes)
  }
}
