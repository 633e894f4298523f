package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.Lake

/** Queries through the Lake's guarded query API, the way a user reads the
  * lake: one `request.<class>` span per request around the `query.run`
  * call, so the query layer's time is attributed per query class. */
final class Reads(ctx: Ctx, lake: Lake) {
  final case class Answer(columns: Seq[String], rows: Seq[Seq[Any]], truncated: Boolean,
      refused: Boolean)
  final case class Done(request: Long, cls: String, ns: Long, rows: Long)

  private val ids = new AtomicLong(0)
  val done = new ConcurrentLinkedQueue[Done]

  /** Run `sql` as one request of class `cls`; values come back normalized
    * (see [[Reads.norm]]). */
  def run(cls: String, sql: String): Answer = {
    val rid = ids.incrementAndGet()
    val t0 = System.nanoTime()
    val a = ctx.call(s"request.$cls", rid) {
      ctx.call("query.run") { lake.query.run(sql) }
    } match {
      case Left(_) => Answer(Nil, Nil, truncated = false, refused = true)
      case Right(q) => Answer(q.columns, q.rows.map(_.map(Reads.norm)), q.truncated, refused = false)
    }
    done.add(Done(rid, cls, System.nanoTime() - t0, a.rows.size.toLong))
    a
  }

  /** Query-layer metrics from the traced requests' spans (with the parse
    * time and Catalyst phases they collected) and the executed queries the
    * listener saw; requests started before `since` are left out. */
  def layerMetrics(since: Long): Map[String, Double] = {
    val spans = ctx.tracer.all
    val byId = spans.map(s => s.id -> s).toMap
    val runs = spans.filter(s => s.name == "query.run" && s.startNs >= since &&
      byId.get(s.parent).exists(_.name.startsWith("request.")))
    def cls(s: Span) = byId(s.parent).name.stripPrefix("request.")
    val seen = ctx.queries.map(_.seen.asScala.toSeq).getOrElse(Nil)
    val bySpan = seen.groupBy(p =>
      ctx.counters.flatMap(_.groupOfQuery(p.qeHash)).getOrElse(""))
    def ex(s: Span) = bySpan.getOrElse(s"span-${s.id}", Nil)
    val executed = runs.filter(s => ex(s).nonEmpty)
    def med(f: Span => Double) = if (executed.isEmpty) 0.0 else Stats.median(executed.map(f))
    val rows = done.asScala.map(d => d.request -> d.rows).toMap
    val scanned = executed.map(s => ex(s).map(_.rowsScanned).sum).sum.toDouble
    val returned = executed.map(s => rows.getOrElse(s.request, 0L)).sum.toDouble
    Layers.QueryClasses.map(c => s"query.${c}_ms" -> Layers.medianMs(runs.filter(cls(_) == c))).toMap ++
      Map(
        "query.parse_ms" -> med(_.parseNs / 1e6),
        "query.analysis_ms" -> med(_.planning.analysisMs.toDouble),
        "query.optimize_ms" -> med(_.planning.optimizeMs.toDouble),
        "query.plan_ms" -> med(_.planning.planMs.toDouble),
        // the executed action, its optimization and planning included
        "query.exec_ms" -> med(ex(_).map(_.execNs).sum / 1e6),
        // the rest of the call: guard, dialect rewrites, name resolution
        // and row conversion
        "query.overhead_ms" -> med(s => math.max(0.0, (s.endNs - s.startNs - s.parseNs -
          ex(s).map(_.execNs).sum) / 1e6 - s.planning.analysisMs)),
        "query.rows_scanned_per_row_returned" -> (if (returned == 0) 0.0 else scanned / returned),
        "query.stages" -> Layers.perCall(ctx, runs)(_.stages.sum))
  }
}

object Reads {
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  /** Result values in the generator's own representation: dates and
    * timestamps as the strings the records carried, integers as Long. */
  def norm(v: Any): Any = v match {
    case t: java.sql.Timestamp => tsFmt.format(t.toInstant)
    case d: java.sql.Date => d.toLocalDate.toString
    case i: Int => i.toLong
    case x => x
  }
}
