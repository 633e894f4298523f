package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{FunctionIdentifier, QueryPlanningTracker, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer's public function, as seen from the benchmark,
  * with the parse time and the Catalyst phases of the queries it planned. */
final case class Span(id: Long, name: String, parent: Long, request: Long,
    startNs: Long, endNs: Long, ok: Boolean, parseNs: Long, planning: Planning)

/** Catalyst phase times, summed over the planning trackers of a span's
  * queries (millisecond resolution, as the trackers keep them). */
final case class Planning(analysisMs: Long, optimizeMs: Long, planMs: Long)

/** Spark work attributed to one span through the job-group property. */
final class Work {
  val jobs, stages, tasks, runNs, cpuNs, gcNs, bytesRead, bytesWritten,
      shuffleBytes, spillBytes = new LongAdder
}

/** One executed query as its QueryExecutionListener saw it: the action's
  * duration (which includes the query's optimization and planning) and the
  * rows its scans produced. */
final case class Executed(qeHash: Int, execNs: Long, rowsScanned: Long)

/** Failure accounting (always on) and, in a traced run, spans plus the
  * Spark work each span caused. Spans live in memory until [[dump]].
  *
  * Spark work is attributed through the calling thread's job-group local
  * property, which the tracer sets to the innermost open span; the
  * listener maps each job, stage and task back to that span. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]
  private val open = new ThreadLocal[List[(Long, Long)]] { // (span, request)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val parseAcc = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = Array(0L)
  }
  private val trackers = new ThreadLocal[java.util.ArrayList[QueryPlanningTracker]] {
    override def initialValue() = new java.util.ArrayList[QueryPlanningTracker]
  }
  /** Tracing can be switched off per thread for single operations, to
    * compare traced and untraced latencies within one run. */
  private val on = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = enabled
  }
  def active: Boolean = on.get()
  def withTracing[T](traced: Boolean)(body: => T): T = {
    val prev = on.get(); on.set(enabled && traced)
    try body finally on.set(prev)
  }

  val attempted = new ConcurrentHashMap[String, LongAdder]
  val failed = new ConcurrentHashMap[String, LongAdder]
  private def bump(m: ConcurrentHashMap[String, LongAdder], k: String): Unit =
    m.computeIfAbsent(k, _ => new LongAdder).increment()

  /** Record a wrong result (or refused-when-it-should-not-be) for `name`. */
  def wrong(name: String, detail: => String): Unit = {
    bump(failed, name)
    System.err.println(s"[perfbench] wrong result in $name: $detail")
  }
  def attempts: Long = attempted.values.asScala.map(_.sum).sum
  def failures: Long = failed.values.asScala.map(_.sum).sum

  val JobGroup = "spark.jobGroup.id"

  /** Run `body` as one call of `name`; exceptions count as failures and
    * propagate. */
  def call[T](sc: SparkContext, name: String, request: Long = 0L)(body: => T): T = {
    bump(attempted, name)
    if (!active) {
      try body catch { case e: Throwable => bump(failed, name); throw e }
    } else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val req = if (request != 0L) request else stack.headOption.map(_._2).getOrElse(id)
      val prevGroup = sc.getLocalProperty(JobGroup)
      val acc = parseAcc.get(); val parse0 = acc(0)
      val tr = trackers.get(); val tracker0 = tr.size
      open.set((id, req) :: stack)
      sc.setLocalProperty(JobGroup, s"span-$id")
      val t0 = System.nanoTime()
      var ok = false
      try { val r = body; ok = true; r }
      catch { case e: Throwable => bump(failed, name); throw e }
      finally {
        val t1 = System.nanoTime()
        sc.setLocalProperty(JobGroup, prevGroup)
        open.set(stack)
        val planning = phases(tr.subList(tracker0, tr.size).asScala.toSeq)
        if (stack.isEmpty) tr.clear()
        spans.add(Span(id, name, stack.headOption.map(_._1).getOrElse(0L), req,
          t0, t1, ok, acc(0) - parse0, planning))
      }
    }
  }

  /** Parser time accrues to the calling thread; spans read it on close. */
  def addParse(ns: Long): Unit = { val a = parseAcc.get(); a(0) += ns }

  /** Planning trackers are collected per thread as the analyzer meets
    * them; a span reads the phases of those met while it was open. */
  def addTracker(t: QueryPlanningTracker): Unit = {
    val tr = trackers.get()
    if (open.get().nonEmpty && (tr.isEmpty || (tr.get(tr.size - 1) ne t))) tr.add(t)
  }

  private def phases(ts: Seq[QueryPlanningTracker]): Planning = {
    val distinct = ts.foldLeft(List.empty[QueryPlanningTracker]) { (acc, t) =>
      if (acc.exists(_ eq t)) acc else t :: acc }
    def ms(k: String) = distinct.map(_.phases.get(k).map(_.durationMs).getOrElse(0L)).sum
    Planning(ms(QueryPlanningTracker.ANALYSIS), ms(QueryPlanningTracker.OPTIMIZATION),
      ms(QueryPlanningTracker.PLANNING))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  /** Span duration minus the part of it its children cover. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs) - covered
  }

  /** Write every span as one JSON line. */
  def dump(path: java.nio.file.Path, counters: SparkCounters): Unit = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    val lines = ss.map { s =>
      val w = counters.forSpan(s.id)
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "ok" -> s.ok, "self_ns" -> selfNs(s, kids.getOrElse(s.id, Nil)),
        "parse_ns" -> s.parseNs, "analysis_ms" -> s.planning.analysisMs,
        "optimize_ms" -> s.planning.optimizeMs, "plan_ms" -> s.planning.planMs,
        "jobs" -> w.jobs.sum, "stages" -> w.stages.sum,
        "tasks" -> w.tasks.sum, "task_cpu_ns" -> w.cpuNs.sum,
        "bytes_read" -> w.bytesRead.sum, "bytes_written" -> w.bytesWritten.sum,
        "shuffle_bytes" -> w.shuffleBytes.sum, "spill_bytes" -> w.spillBytes.sum)
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Spark listener (registered by the benchmark, traced runs only) that
  * sums job, stage and task metrics per job group, i.e. per span. */
final class SparkCounters extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Work]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val execGroup = new ConcurrentHashMap[Long, String]
  private val qeExecution = new ConcurrentHashMap[Int, Long]
  val total = new Work
  private def work(g: String): Work = byGroup.computeIfAbsent(g, _ => new Work)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => execGroup.putIfAbsent(x.toLong, g))
    work(g).jobs.increment(); total.jobs.increment()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    work(g).stages.increment(); total.stages.increment()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = stageGroup.getOrDefault(e.stageId, "")
    Seq(work(g), total).foreach { w =>
      w.tasks.increment()
      w.runNs.add(m.executorRunTime * 1000000L)
      w.cpuNs.add(m.executorCpuTime)
      w.gcNs.add(m.jvmGCTime * 1000000L)
      w.bytesRead.add(m.inputMetrics.bytesRead)
      w.bytesWritten.add(m.outputMetrics.bytesWritten)
      w.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      w.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit =
    org.apache.spark.sql.PerfbenchSql.executionEnd(e).foreach { case (id, qe) =>
      qeExecution.put(qe, id)
    }
  def forSpan(id: Long): Work = Option(byGroup.get(s"span-$id")).getOrElse(new Work)
  /** The job group (span) whose jobs ran the query execution `qeHash`. */
  def groupOfQuery(qeHash: Int): Option[String] =
    Option(qeExecution.get(qeHash)).flatMap(id => Option(execGroup.get(id)))
}

/** Every executed query's duration and scanned rows (traced runs only). */
final class QueryListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val seen = new ConcurrentLinkedQueue[Executed]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val scanned = try {
      collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        case s: BatchScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
    } catch { case _: Throwable => 0L }
    seen.add(Executed(System.identityHashCode(qe), durationNs, scanned))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** No-op analyzer rule (traced runs only) that hands the planning tracker
  * of the running analysis to the tracer. The query API analyses a
  * statement eagerly under its own tracker and then executes a wrapper of
  * it under another; a listener sees only the second, so the spans read
  * the phases of both from here. */
final class TrackerProbe(tracer: Tracer) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = {
    QueryPlanningTracker.get.foreach(tracer.addTracker)
    plan
  }
}

/** Outermost parser: times every parse on the calling thread. */
final class TimedParser(tracer: Tracer, delegate: ParserInterface) extends ParserInterface {
  private def timed[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally tracer.addParse(System.nanoTime() - t0)
  }
  override def parsePlan(sqlText: String): LogicalPlan = timed(delegate.parsePlan(sqlText))
  override def parseQuery(sqlText: String): LogicalPlan = timed(delegate.parseQuery(sqlText))
  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
}

object Trace {
  /** Wait until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
