package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.query.QualifyRewriter

/** QUALIFY-clause rewrite (SURVEY §7.3): the gold dialect's
  * `QUALIFY rn = 1` idiom must run on Spark. */
class QualifySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("string-level rewrite shapes") {
    assert(QualifyRewriter.rewrite("SELECT a FROM t") == "SELECT a FROM t")
    assert(QualifyRewriter.rewrite("SELECT a, rn FROM t QUALIFY rn = 1") ==
      "SELECT * FROM (SELECT a, rn FROM t) __qualify WHERE rn = 1")
    assert(QualifyRewriter.rewrite(
      "SELECT a, rn FROM t QUALIFY rn <= 2 ORDER BY a LIMIT 5") ==
      "SELECT * FROM (SELECT a, rn FROM t) __qualify WHERE rn <= 2 ORDER BY a LIMIT 5")
    // quoted literal and identifier-substring occurrences untouched
    assert(QualifyRewriter.rewrite("SELECT 'QUALIFY' AS s FROM t") ==
      "SELECT 'QUALIFY' AS s FROM t")
    assert(QualifyRewriter.rewrite("SELECT * FROM (SELECT 1 AS qualify_x) t") ==
      "SELECT * FROM (SELECT 1 AS qualify_x) t")
  }

  test("nested QUALIFY rewrites at any depth (r12 verdict task 1: the " +
      "user-facing path must take the CTE/subquery forms DuckDB takes)") {
    import QualifyRewriter.rewrite
    // inside a CTE body
    assert(rewrite(
      "WITH w AS (SELECT a, rn FROM t QUALIFY rn = 1) SELECT a FROM w") ==
      "WITH w AS (SELECT * FROM (SELECT a, rn FROM t) __qualify " +
        "WHERE rn = 1) SELECT a FROM w")
    // inside a FROM subquery
    assert(rewrite(
      "SELECT x.a FROM (SELECT a, rn FROM t QUALIFY rn <= 2) x") ==
      "SELECT x.a FROM (SELECT * FROM (SELECT a, rn FROM t) __qualify " +
        "WHERE rn <= 2) x")
    // nested AND top-level in one statement; literal stays untouched
    assert(rewrite("WITH w AS (SELECT a, rn FROM t QUALIFY rn = 1) " +
      "SELECT a, 'qualify me' AS s, r2 FROM w QUALIFY r2 = 1") ==
      "SELECT * FROM (WITH w AS (SELECT * FROM (SELECT a, rn FROM t) " +
        "__qualify WHERE rn = 1) SELECT a, 'qualify me' AS s, r2 FROM w) " +
        "__qualify WHERE r2 = 1")
  }

  test("inline-window QUALIFY (no select alias) injects the condition " +
      "into the select list — the DuckDB direct form") {
    import QualifyRewriter.rewrite
    assert(rewrite("SELECT g, x FROM t QUALIFY row_number() OVER " +
      "(PARTITION BY g ORDER BY x DESC) = 1") ==
      "SELECT * EXCEPT (__qp) FROM (SELECT g, x, (row_number() OVER " +
        "(PARTITION BY g ORDER BY x DESC) = 1) AS __qp FROM t) " +
        "__qualify WHERE __qp")
    // end-to-end vs the known DuckDB answer on the same rows
    spark.sql("SELECT * FROM (VALUES (1,10),(1,20),(2,5)) v(g,x)")
      .createOrReplaceTempView("qwin")
    val got = spark.sql(rewrite("SELECT g, x FROM qwin QUALIFY " +
      "row_number() OVER (PARTITION BY g ORDER BY x DESC) = 1 ORDER BY g"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(got == Seq((1, 20), (2, 5)))
    assert(spark.sql(rewrite("SELECT g, x FROM qwin QUALIFY rank() OVER " +
      "(PARTITION BY g ORDER BY x) <= 1 ORDER BY g"))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 10), (2, 5)))
    // alias form unchanged; DISTINCT bodies keep the subquery-WHERE form
    assert(rewrite("SELECT DISTINCT g FROM t QUALIFY rn = 1") ==
      "SELECT * FROM (SELECT DISTINCT g FROM t) __qualify WHERE rn = 1")
  }

  test("inline-window QUALIFY under DISTINCT: window sees pre-distinct " +
      "rows, DISTINCT re-applies above (DuckDB order, r13 verdict #1)") {
    import QualifyRewriter.rewrite
    assert(rewrite("SELECT DISTINCT g, v FROM t QUALIFY row_number() " +
      "OVER (PARTITION BY g ORDER BY v) = 1") ==
      "SELECT DISTINCT * EXCEPT (__qp) FROM (SELECT  g, v, (row_number() " +
        "OVER (PARTITION BY g ORDER BY v) = 1) AS __qp FROM t) " +
        "__qualify WHERE __qp")
    // end-to-end vs DuckDB's measured answers on the same rows:
    // c = (1,5),(1,5),(1,7),(2,9),(2,9) — rn runs over PRE-distinct rows,
    // so rn=2 keeps the duplicate (1,5) and (2,9), NOT (1,7)
    spark.sql("SELECT * FROM (VALUES (1,5),(1,5),(1,7),(2,9),(2,9)) " +
      "v(g, v)").createOrReplaceTempView("qdist")
    def run(q: String) = spark.sql(rewrite(q)).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    assert(run("SELECT DISTINCT g, v FROM qdist QUALIFY row_number() " +
      "OVER (PARTITION BY g ORDER BY v) = 1") == Seq((1, 5), (2, 9)))
    assert(run("SELECT DISTINCT g, v FROM qdist QUALIFY row_number() " +
      "OVER (PARTITION BY g ORDER BY v) = 2") == Seq((1, 5), (2, 9)))
  }

  test("QUALIFY after a set operation binds to the LAST branch " +
      "(DuckDB, measured — r13 advisor: the injected form must not " +
      "break the union's column count)") {
    import QualifyRewriter.rewrite
    assert(rewrite("SELECT x FROM a UNION ALL SELECT x FROM b " +
      "QUALIFY row_number() OVER (ORDER BY x) = 1") ==
      "SELECT x FROM a UNION ALL SELECT * EXCEPT (__qp) FROM (SELECT x, " +
        "(row_number() OVER (ORDER BY x) = 1) AS __qp FROM b) " +
        "__qualify WHERE __qp")
    // a star-modifier EXCEPT is NOT a set operation
    assert(rewrite("SELECT * EXCEPT (b) FROM t QUALIFY rn = 1") ==
      "SELECT * FROM (SELECT * EXCEPT (b) FROM t) __qualify WHERE rn = 1")
    // end-to-end vs DuckDB's measured answers: a={1,2,3}, b={10,20};
    // QUALIFY filters b only — a passes through whole
    spark.sql("SELECT * FROM (VALUES (1),(2),(3)) v(x)")
      .createOrReplaceTempView("qua")
    spark.sql("SELECT * FROM (VALUES (10),(20)) v(x)")
      .createOrReplaceTempView("qub")
    def run(q: String) = spark.sql(rewrite(q)).collect()
      .map(_.getInt(0)).toSeq.sorted
    assert(run("SELECT x FROM qua UNION ALL SELECT x FROM qub " +
      "QUALIFY row_number() OVER (ORDER BY x) = 1") == Seq(1, 2, 3, 10))
    assert(run("SELECT x FROM qua UNION ALL SELECT x FROM qub " +
      "QUALIFY row_number() OVER (ORDER BY x DESC) <= 2") ==
      Seq(1, 2, 3, 10, 20))
    // ORDER BY / LIMIT after the QUALIFY still bind to the whole union
    assert(spark.sql(rewrite("SELECT x FROM qua UNION ALL SELECT x FROM " +
      "qub QUALIFY row_number() OVER (ORDER BY x) = 1 ORDER BY x DESC " +
      "LIMIT 2")).collect().map(_.getInt(0)).toSeq == Seq(10, 3))
  }

  test("COMPOSED corner: set-op whose LAST branch is DISTINCT + inline " +
      "QUALIFY — both r14 paths in one body (DuckDB, measured; r14 " +
      "verdict task 4)") {
    import QualifyRewriter.rewrite
    // rewrite shape: DISTINCT strip + inline injection + __qp filter,
    // applied to the LAST branch only
    assert(rewrite("SELECT g, v FROM a UNION ALL SELECT DISTINCT g, v " +
      "FROM b QUALIFY row_number() OVER (PARTITION BY g ORDER BY v) = 2")
      == "SELECT g, v FROM a UNION ALL SELECT DISTINCT * EXCEPT (__qp) " +
        "FROM (SELECT  g, v, (row_number() OVER (PARTITION BY g ORDER " +
        "BY v) = 2) AS __qp FROM b) __qualify WHERE __qp")
    // end-to-end vs DuckDB's measured answers on the same rows:
    // qa = {(0,0)}; qdist = (1,5),(1,5),(1,7),(2,9),(2,9) — the window
    // runs over PRE-distinct rows of the LAST branch only, so rn=2
    // keeps the duplicates (1,5),(2,9), then DISTINCT collapses them
    spark.sql("SELECT * FROM (VALUES (0, 0)) v(g, v)")
      .createOrReplaceTempView("qa2")
    spark.sql("SELECT * FROM (VALUES (1,5),(1,5),(1,7),(2,9),(2,9)) " +
      "v(g, v)").createOrReplaceTempView("qdist2")
    def run(q: String) = spark.sql(rewrite(q)).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSeq.sorted
    assert(run("SELECT g, v FROM qa2 UNION ALL SELECT DISTINCT g, v " +
      "FROM qdist2 QUALIFY row_number() OVER (PARTITION BY g ORDER BY " +
      "v) = 2") == Seq((0, 0), (1, 5), (2, 9)))
    assert(run("SELECT g, v FROM qa2 UNION ALL SELECT DISTINCT g, v " +
      "FROM qdist2 QUALIFY row_number() OVER (PARTITION BY g ORDER BY " +
      "v) = 1") == Seq((0, 0), (1, 5), (2, 9)))
    // other set operators bind the same way (measured)
    assert(run("SELECT g, v FROM qdist2 EXCEPT SELECT DISTINCT g, v " +
      "FROM qdist2 QUALIFY row_number() OVER (PARTITION BY g ORDER BY " +
      "v) = 2") == Seq((1, 7)))
    assert(spark.sql(rewrite("SELECT g, v FROM qa2 INTERSECT SELECT " +
      "DISTINCT g, v FROM qdist2 QUALIFY row_number() OVER (PARTITION " +
      "BY g ORDER BY v) = 2")).count() == 0)
  }

  test("backslash-escaped quotes: rewriters honor Spark's default " +
      "lexer, never editing inside a literal (r13 verdict #3)") {
    import graft.query.{NameRewriter, StarRewriter}
    // one literal under Spark's lexer: 'it\'s d.silver.t' — the old
    // scanners closed the quote at \' and rewrote the tail
    val probes = Seq(
      """SELECT 'it\'s sales.silver.orders' AS s FROM sales.silver.orders""",
      """SELECT 'a\\' AS s, x FROM sales.silver.orders""",
      """SELECT 'p\'q QUALIFY rn = 1' AS s FROM t""",
      """SELECT 'p\'q * EXCLUDE (b)' AS s FROM t""")
    assert(NameRewriter.rewritePure(probes.head) ==
      """SELECT 'it\'s sales.silver.orders' AS s FROM sales_silver.orders""")
    // after '\\' the quote IS closed: the three-part name is real SQL
    assert(NameRewriter.rewritePure(probes(1)) ==
      """SELECT 'a\\' AS s, x FROM sales_silver.orders""")
    assert(QualifyRewriter.rewrite(probes(2)) == probes(2))
    assert(StarRewriter.rewrite(probes(3)) == probes(3))
    // and Spark agrees the literal survived: execute the rewritten text
    val v = spark.sql(NameRewriter.rewritePure(
      """SELECT 'it\'s x.silver.t' AS s""").replace("x_silver.t", "t"))
      .head().getString(0)
    assert(v == "it's x.silver.t")
  }

  test("NameRewriter skips three-part names inside quoted literals") {
    import graft.query.NameRewriter.rewritePure
    assert(rewritePure("SELECT x FROM sales.silver.orders") ==
      "SELECT x FROM sales_silver.orders")
    // the lookbehind already refused '<quote>d.l.t'; the in-quote scan
    // must also refuse '<quote> d.l.t' (space after the quote)
    assert(rewritePure("SELECT ' sales.silver.orders' AS s FROM t") ==
      "SELECT ' sales.silver.orders' AS s FROM t")
    assert(rewritePure(
      "SELECT 'see sales.gold.rollup here' AS s FROM sales.silver.orders") ==
      "SELECT 'see sales.gold.rollup here' AS s FROM sales_silver.orders")
  }

  test("QUALIFY runs end-to-end through the query service and gold jobs") {
    val lake = new Lake(spark, Files.createTempDirectory("graft-qual-").toString)
    lake.registry.create(EndpointSchema("orders", "sales", 1, SchemaMode.Manual,
      SchemaDefinition(Seq(
        ColumnDefinition("order_id", RefType.IntegerT, required = true, primaryKey = true),
        ColumnDefinition("customer_id", RefType.IntegerT, required = true),
        ColumnDefinition("total_amount", RefType.DoubleT)))))
    lake.ingest.ingest("sales", "orders", Seq(
      """{"order_id": 1, "customer_id": 1, "total_amount": 5.0}""",
      """{"order_id": 2, "customer_id": 1, "total_amount": 9.0}""",
      """{"order_id": 3, "customer_id": 2, "total_amount": 7.0}"""))
    lake.ingest.flushAll()
    lake.silver.processEndpoint("sales", "orders")

    // the dialect's mandated latest-per-key idiom, verbatim QUALIFY
    val res = lake.query.run("""
      SELECT customer_id, order_id, total_amount,
             row_number() OVER (PARTITION BY customer_id
               ORDER BY total_amount DESC) AS rn
      FROM sales.silver.orders QUALIFY rn = 1 ORDER BY customer_id""")
    val rows = res.toOption.get.rows
    assert(rows.map(_.take(2)) == Seq(Seq(1, 2), Seq(2, 3)))

    // gold job using QUALIFY
    val job = gold.GoldJob("sales", "top_order_per_customer",
      """SELECT customer_id, order_id,
           row_number() OVER (PARTITION BY customer_id ORDER BY total_amount DESC) AS rn
         FROM sales.silver.orders QUALIFY rn = 1""")
    assert(lake.gold.runJob(job).rows == 2)
  }

  test("star modifiers: EXCLUDE and REPLACE fold into Spark's EXCEPT") {
    import graft.query.StarRewriter.rewrite
    assert(rewrite("SELECT * EXCLUDE (b) FROM t")
      == "SELECT * EXCEPT (b) FROM t")
    assert(rewrite("SELECT * EXCLUDE b FROM t")
      == "SELECT * EXCEPT (b) FROM t")
    assert(rewrite("SELECT * REPLACE (a * 10 AS a) FROM t")
      == "SELECT * EXCEPT (a), a * 10 AS a FROM t")
    assert(rewrite("SELECT * EXCLUDE (b) REPLACE (CAST(d AS DATE) AS d) FROM t")
      == "SELECT * EXCEPT (b, CAST(d AS DATE) AS d), CAST(d AS DATE) AS d FROM t"
      || rewrite("SELECT * EXCLUDE (b) REPLACE (CAST(d AS DATE) AS d) FROM t")
      == "SELECT * EXCEPT (b, d), CAST(d AS DATE) AS d FROM t")
    // untouched: no star before the word, or quoted
    assert(rewrite("SELECT exclude FROM t") == "SELECT exclude FROM t")
    assert(rewrite("SELECT '* EXCLUDE (x)' AS s FROM t")
      == "SELECT '* EXCLUDE (x)' AS s FROM t")
    // subquery depth
    assert(rewrite("SELECT 1 FROM (SELECT * EXCLUDE (c) FROM t) q")
      == "SELECT 1 FROM (SELECT * EXCEPT (c) FROM t) q")
  }

  test("star modifiers execute through the query service rewrite chain") {
    spark.sql("SELECT 1 AS a, 2 AS b, 3 AS c").createOrReplaceTempView("smt")
    val out = spark.sql(graft.query.StarRewriter.rewrite(
      "SELECT * EXCLUDE (b) REPLACE (a * 10 AS a) FROM smt"))
    assert(out.columns.sorted.toSeq == Seq("a", "c"))
    assert(out.head().getAs[Int]("a") == 10)
  }
}
