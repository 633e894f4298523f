package graft

import org.scalatest.funsuite.AnyFunSuite

/** EmptyGroupingSetsRule: ISO/DuckDB grand-total semantics for grouping
  * sets over empty input, with non-empty results provably untouched. */
class GroupingSetsSpec extends AnyFunSuite {

  private lazy val spark = {
    val s = TestSpark.session
    import s.implicits._
    // parquet-backed, not a literal relation: a statically-empty plan is
    // collapsed by PropagateEmptyRelation before ANY optimizer extension
    // runs — the rule targets the lake's actual shape, file-backed
    // tables whose emptiness is a RUNTIME fact (and under AQE the
    // LeftOuter null-extension survives AQEPropagateEmptyRelation)
    val dir = java.nio.file.Files
      .createTempDirectory("gs_spec").toString
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L))
      .toDF("k", "g", "v").write.mode("overwrite").parquet(dir)
    s.read.parquet(dir).createOrReplaceTempView("gs_t")
    s
  }

  test("ROLLUP over empty input returns the grand-total row " +
      "(count 0, other aggregates NULL, grouping columns NULL)") {
    val rows = spark.sql(
      """SELECT g, k % 2 AS g2, count(*) AS c, sum(v) AS s, max(g) AS m
         FROM gs_t WHERE v > 999 GROUP BY ROLLUP(g, g2)""").collect()
    assert(rows.length == 1, s"expected exactly the () row: ${rows.toSeq}")
    val r = rows.head
    assert(r.isNullAt(0) && r.isNullAt(1), "grouping columns must be NULL")
    assert(r.getLong(2) == 0L, "count(*) over empty input is 0")
    assert(r.isNullAt(3) && r.isNullAt(4), "sum/max over empty are NULL")
  }

  test("CUBE over empty input returns one grand-total row; " +
      "grouping_id() carries the all-excluded value") {
    val rows = spark.sql(
      """SELECT g, grouping_id() AS gid, count(*) AS c
         FROM gs_t WHERE k < 0 GROUP BY CUBE(g)""").collect()
    assert(rows.length == 1)
    assert(rows.head.isNullAt(0) && rows.head.getLong(2) == 0L)
    assert(rows.head.getLong(1) == 1L, "gid must be the ()-set value")
  }

  test("GROUPING SETS without () stays empty on empty input") {
    val rows = spark.sql(
      """SELECT g, count(*) AS c FROM gs_t WHERE k < 0
         GROUP BY GROUPING SETS ((g))""").collect()
    assert(rows.isEmpty, "no global set -> no synthesized row")
  }

  test("KNOWN DIVERGENCE (tracked): GROUPING SETS ((), ()) over empty " +
      "input stays on Spark semantics — 0 rows, no synthesized row") {
    // DuckDB/ISO would emit one grand-total row PER listed () set; the
    // rule's single-global-set guard deliberately refuses the
    // duplicated-() shape (synthesizing the right MULTIPLICITY would
    // need per-set bookkeeping for a corner no real query hits). This
    // test pins the refusal so the gap stays visible — if the guard
    // ever loosens, this fails and the README "Dialect notes" entry
    // must be updated with it. Non-empty input is NOT divergent: both
    // engines emit one grand-total row per listed ().
    val empty = spark.sql(
      """SELECT count(*) AS c FROM gs_t WHERE k < 0
         GROUP BY GROUPING SETS ((), ())""").collect()
    assert(empty.isEmpty,
      "guard loosened: update README Dialect notes + this pin")
    val nonEmpty = spark.sql(
      """SELECT count(*) AS c FROM gs_t
         GROUP BY GROUPING SETS ((), ())""").collect()
    assert(nonEmpty.map(_.getLong(0)).toSeq == Seq(3L, 3L),
      "non-empty duplicated-() multiplicity changed")
  }

  test("non-empty ROLLUP results are identical with and without the rule") {
    val sql =
      """SELECT g, k % 2 AS g2, count(*) AS c, sum(v) AS s,
           count(DISTINCT v) AS cd, grouping_id() AS gid
         FROM gs_t GROUP BY ROLLUP(g, g2)"""
    val withRule = spark.sql(sql).collect().map(_.toSeq).toSet
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = saved.filterNot(
        _ eq graft.plans.EmptyGroupingSetsRule)
      val without = spark.sql(sql).collect().map(_.toSeq).toSet
      assert(withRule == without,
        s"rule changed non-empty results:\n$withRule\nvs\n$without")
      // 3 leaf groups + 2 per-g subtotals + 1 grand total
      assert(withRule.size == 6)
    } finally spark.experimental.extraOptimizations = saved
  }

  test("multi-distinct aggregates over ROLLUP: the optimizer-batch copy " +
      "refuses RewriteDistinctAggregates' shape (no bogus row on " +
      "non-empty input); applyAnalyzed still fixes the empty case") {
    val sql =
      """SELECT g, count(DISTINCT v) AS cd, count(DISTINCT k) AS ck
         FROM gs_t GROUP BY ROLLUP(g)"""
    // non-empty: results must be the plain Spark results — the rule's
    // optimizer copy must NOT fire on the distinct-rewrite's internal
    // Expand and inject a defaults row
    val rows = spark.sql(sql).collect().map(_.toSeq).toSet
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = saved.filterNot(
        _ eq graft.plans.EmptyGroupingSetsRule)
      assert(spark.sql(sql).collect().map(_.toSeq).toSet == rows,
        "rule changed a non-empty multi-distinct rollup")
    } finally spark.experimental.extraOptimizations = saved
    // empty input: the optimizer copy runs after the distinct rewrite
    // and misses by design; the analyzed-stage rewrite (QueryService's
    // path) restores the grand-total row
    val empty =
      """SELECT g, count(DISTINCT v) AS cd, count(DISTINCT k) AS ck
         FROM gs_t WHERE v > 999 GROUP BY ROLLUP(g)"""
    val fixed = graft.plans.EmptyGroupingSetsRule
      .applyAnalyzed(spark.sql(empty)).collect()
    assert(fixed.length == 1 && fixed.head.isNullAt(0)
      && fixed.head.getLong(1) == 0L && fixed.head.getLong(2) == 0L,
      s"grand-total row wrong for empty multi-distinct rollup: " +
        s"${fixed.toSeq}")
  }

  test("statically-empty input (constant-false predicate) is covered by " +
      "the analyzed-stage rewrite that QueryService applies") {
    val sql = "SELECT g, count(*) AS c FROM gs_t WHERE 1 = 0 GROUP BY ROLLUP(g)"
    // the optimizer-batch copy runs too late here: PruneFilters +
    // PropagateEmptyRelation collapse the aggregate first
    assert(spark.sql(sql).collect().isEmpty)
    val rows = graft.plans.EmptyGroupingSetsRule
      .applyAnalyzed(spark.sql(sql)).collect()
    assert(rows.length == 1 && rows.head.isNullAt(0)
      && rows.head.getLong(1) == 0L)
  }

  test("statically-empty grouping sets inside an UNCORRELATED subquery " +
      "expression get the grand-total row; correlated bodies are left " +
      "on stock semantics") {
    // inner rollup over STATICALLY-empty input (constant-false, folded
    // by PruneFilters before the optimizer-batch copy can see the agg)
    // yields {0} under ISO — the IN predicate is then true for 0. NOTE
    // a RUNTIME-empty inner predicate (k < 0) needs no analyzed-stage
    // help: the optimizer rewrites the subquery into a join first and
    // the installed optimizer copy then fires on the agg (verified
    // while building this test) — the constant-false fold is the one
    // shape only the subquery-descending analyzed rewrite reaches.
    val sql = """SELECT k FROM gs_t WHERE CAST(0 AS BIGINT) IN
      (SELECT count(*) FROM gs_t WHERE 1 = 0 GROUP BY ROLLUP(g))"""
    assert(spark.sql(sql).collect().isEmpty, "stock Spark baseline moved")
    val rows = graft.plans.EmptyGroupingSetsRule
      .applyAnalyzed(spark.sql(sql)).collect()
    assert(rows.length == 3,
      s"subquery grand-total row missing: ${rows.toSeq}")
    // CORRELATED grouping-sets subqueries: Spark refuses the shape at
    // ANALYSIS (ACCESSING_OUTER_QUERY_COLUMN_IS_NOT_ALLOWED under an
    // Aggregate with grouping sets), so the rewrite's OuterReference
    // guard is pure defense for non-SQL plan builders — pin the refusal
    // so a future Spark that starts accepting it resurfaces the guard
    // question instead of silently rewriting a correlated body
    val corr = """SELECT k FROM gs_t t1 WHERE EXISTS
      (SELECT 1 FROM gs_t t2 WHERE t2.k = t1.k GROUP BY ROLLUP(t2.g))"""
    val refusal = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(corr).collect()
    }
    assert(refusal.getMessage.contains("ACCESSING_OUTER_QUERY_COLUMN") ||
      refusal.getMessage.contains("Accessing outer query column"))
  }

  test("HAVING filters the synthesized row like any other") {
    val rows = spark.sql(
      """SELECT g, count(*) AS c FROM gs_t WHERE k < 0
         GROUP BY ROLLUP(g) HAVING count(*) > 0""").collect()
    assert(rows.isEmpty, "HAVING c > 0 must drop the count-0 global row")
    val kept = spark.sql(
      """SELECT g, count(*) AS c FROM gs_t WHERE k < 0
         GROUP BY ROLLUP(g) HAVING count(*) = 0""").collect()
    assert(kept.length == 1 && kept.head.getLong(1) == 0L)
  }
}
