package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.FuzzSql

/** The differential-fuzz generator's in-process contracts. The actual
  * cross-engine compare (same query text run by Spark through the
  * product rewriters+guard AND natively by DuckDB, value-hash compared)
  * is the recorded `tools.FuzzSql` + `scripts/local_check.py` run
  * documented in COVERAGE.md — DuckDB isn't on the library classpath.
  * This spec pins what CAN be asserted in-process: the batch is a pure
  * function of (n, seed), and every generated query stays inside the
  * product's legal surface (guard-accepted, Catalyst-analyzable)
  * end-to-end through the QUALIFY/star rewriters.
  */
class FuzzSqlSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = {
    val s = TestSpark.session
    FuzzSql.tabs.foreach(t => graft.sources.Tables.load(s, dir, t.name)
      .createOrReplaceTempView(t.name))
    s
  }

  test("genQueries is a pure function of (n, seed)") {
    val a = FuzzSql.genQueries(60, 20260815L)
    val b = FuzzSql.genQueries(60, 20260815L)
    assert(a == b, "same seed must reproduce the batch bit-for-bit")
    val c = FuzzSql.genQueries(60, 1L)
    assert(a.map(_._2) != c.map(_._2), "different seed must differ")
  }

  test("every generated query is guard-legal and Catalyst-analyzable " +
      "through the product rewriters") {
    val qs = FuzzSql.genQueries(300, 20260815L)
    val bad = qs.flatMap { case (name, sql) =>
      val sql2 = graft.query.StarRewriter.rewrite(
        graft.query.QualifyRewriter.rewrite(sql))
      val verdict = graft.query.QueryGuard.validate(spark, sql2)
      if (!verdict.ok) Some(s"$name guard: ${verdict.reason} :: $sql")
      else
        try { spark.sql(sql2).queryExecution.assertAnalyzed(); None }
        catch { case e: Exception =>
          Some(s"$name analyze: ${e.getMessage.take(120)} :: $sql") }
    }
    assert(bad.isEmpty, s"${bad.length} illegal queries, first 3:\n" +
      bad.take(3).mkString("\n"))
  }

  test("service batch: deterministic, relation-rewritten to three-part " +
      "names, and analyzable through the FULL QueryService rewrite chain") {
    val extras = FuzzSql.genServiceExtras(60, 20260815L)
    assert(extras == FuzzSql.genServiceExtras(60, 20260815L))
    // every fixture relation reference becomes fuzz.silver.<t>, and the
    // pure name rewrite maps those to fuzz_silver.<t>
    val qs = (FuzzSql.genQueries(120, 42L) ++ extras).map(_._2)
    qs.foreach { sql =>
      val svc = FuzzSql.toServiceNames(sql)
      val resolved = graft.query.NameRewriter.rewritePure(
        graft.query.StarRewriter.rewrite(
          graft.query.QualifyRewriter.rewrite(svc)))
      assert(!"""(?i)\bFROM\s+fuzz\.silver""".r.findFirstIn(resolved).isDefined,
        s"three-part name survived the rewrite chain: $svc")
    }
    // rewriter bait stays inside its quotes end-to-end
    val bait = "SELECT ' fuzz.silver.lineitem' AS a, 'qualify rn = 1' AS b, " +
      "'* exclude (x) from y' AS c FROM region"
    val through = graft.query.NameRewriter.rewritePure(
      graft.query.StarRewriter.rewrite(
        graft.query.QualifyRewriter.rewrite(FuzzSql.toServiceNames(bait))))
    assert(through.contains("' fuzz.silver.lineitem'") &&
      through.contains("'qualify rn = 1'") &&
      through.contains("'* exclude (x) from y'"),
      s"a rewriter mutated literal content: $through")
  }
}
