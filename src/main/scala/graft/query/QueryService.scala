package graft.query

import org.apache.spark.sql.{DataFrame, Row}

import graft.Lake

/** Interactive query execution — the engine equivalent of
  * `GET /consumption/query` (lambdas/query_api/main.py:210-237).
  *
  * Lifecycle (§3.1): validate (text + parsed plan) → rewrite names →
  * Catalyst → truncate at 10 000 rows with a `truncated` flag → rows as
  * maps; errors are sanitized (paths redacted, missing-table rewritten).
  *
  * Unlike the reference there is no per-request engine cold start — the
  * long-lived SparkSession's catalog, code cache and AQE statistics are
  * reused across queries (SURVEY §4.1).
  *
  * KNOWN DIALECT DIVERGENCES from the reference's DuckDB engine (full
  * detail in README "Dialect notes"): duplicate grouping expressions in
  * ROLLUP/CUBE subtotal differently (Spark keys sets by position);
  * `round(x, s)` with s > 0 rounds the shortest-decimal representation
  * where DuckDB rounds the binary value (scale 0 is identical); and the
  * ISO empty-input grand-total patch does not reach `GROUPING SETS`
  * listing `()` more than once (it DOES cover statically-empty inputs
  * hidden in VIEW bodies and uncorrelated subquery expressions — the
  * analyzed-stage rewrite in [[dataFrame]] below).
  */
final class QueryService(lake: Lake) {
  val MaxResultRows = 10000 // query_api/main.py:20

  final case class QueryResult(
      columns: Seq[String],
      rows: Seq[Seq[Any]],
      rowCount: Int,
      truncated: Boolean,
      maxRows: Int)

  def run(sql: String): Either[String, QueryResult] = {
    // dialect shims first so the parsed-plan guard sees SQL Spark can
    // actually parse
    val sql2 = rewriteDialect(sql)
    val verdict = QueryGuard.validate(lake.spark, sql2)
    if (!verdict.ok) return Left(verdict.reason)
    try {
      val df = resolve(sql2)
      val taken: Array[Row] = df.take(MaxResultRows + 1)
      val truncated = taken.length > MaxResultRows
      val rows = taken.take(MaxResultRows).toSeq.map(_.toSeq)
      Right(QueryResult(df.columns.toSeq, rows, rows.length, truncated, MaxResultRows))
    } catch {
      case e: Exception => Left(friendlyError(e))
    }
  }

  /** The unguarded, untruncated DataFrame (for internal composition).
    * The analyzed-stage grouping-sets rewrite runs here so even
    * statically-empty inputs keep the DuckDB/ISO grand-total row —
    * the optimizer-batch copy of the rule only sees runtime-empty
    * plans (EmptyGroupingSetsRule scaladoc). */
  def dataFrame(sql: String): DataFrame = resolve(rewriteDialect(sql))

  /** QUALIFY → subquery, EXCLUDE/REPLACE → EXCEPT. */
  private def rewriteDialect(sql: String): String =
    StarRewriter.rewrite(QualifyRewriter.rewrite(sql))

  /** Lake names → catalog names, then analysis on dialect-rewritten SQL. */
  private def resolve(sql: String): DataFrame =
    graft.plans.EmptyGroupingSetsRule.applyAnalyzed(
      lake.spark.sql(NameRewriter.rewrite(lake, sql)))

  /** Error sanitization (query_api/main.py:186-207): missing relations →
    * "does not exist or has no data"; object-store URIs and internal
    * filesystem paths replaced with `<redacted>`. */
  private[graft] def friendlyError(e: Exception): String = {
    val msg = Option(e.getMessage).getOrElse("query failed")
    if (msg.contains("TABLE_OR_VIEW_NOT_FOUND") || msg.contains("PATH_NOT_FOUND"))
      "Table does not exist or has no data."
    else msg
      .replaceAll("""s3://[^\s'"]+""", "<redacted>")
      .replaceAll("""(file:)?(/tmp/|/var/|/opt/|/home/|/root/)[^\s'"]*""", "<redacted>")
      .take(2000)
  }
}
