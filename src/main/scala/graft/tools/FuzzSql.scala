package graft.tools

/** Dev-only differential SQL fuzz over the interactive-query surface
  * (SURVEY §2 P1/P5 + §2.8 star/QUALIFY rewriters): generates a seeded,
  * reproducible batch of random queries in the DuckDB-flavored dialect
  * the reference's gold jobs write, runs each through the PRODUCT
  * pipeline (QualifyRewriter → StarRewriter → QueryGuard → Catalyst)
  * against the driver's parquet tables, and dumps results in the exact
  * layout `scripts/local_check.py` consumes — so the SAME query text is
  * then executed natively by DuckDB (which speaks QUALIFY/EXCLUDE/
  * REPLACE itself) and value-compared. The MakeSkew idea applied to the
  * SQL dialect: the oracle corpus checks 190 hand-built queries; this
  * checks the COMBINATORIAL space around them.
  *
  * The grammar is restricted to expressions whose results are
  * bit-identical across engines BY CONSTRUCTION — exact integer
  * arithmetic (both engines: int64, C-style % sign), byte-ordered ASCII
  * string functions, raw double comparisons (no float arithmetic, no
  * double sums), UTC timestamp extracts, count/sum-of-int/min/max
  * aggregates, and windows ordered by a unique key — so ANY mismatch is
  * a real engine/rewriter defect, never rounding weather.
  *
  * Usage: FuzzSql <sfDir> <outDir> [n=300] [seed=20260815]
  * then:  python3 scripts/local_check.py <sfDir> <outDir>
  */
object FuzzSql {

  // ---- schema model (TESTDATA.md tables; dtypes verified via DESCRIBE) --
  final case class Col(name: String, kind: Char) // i=int s=str d=dbl t=ts
  /** `uniqueKey`: whether `key` TOTALLY orders the table. lineitem's
    * l_orderkey repeats per line — and NO column set is unique across
    * every fixture (the sf0.001 and MakeSkew lineitems both carry full
    * duplicate rows) — so order-SENSITIVE window outputs (frames, lag/
    * lead, running sums over other columns) must not be generated for
    * it: a tied ORDER BY lets each engine pick different peers. Seeds
    * 1234/99 each produced one such divergence the moment the template
    * mix shifted; the older templates were only accidentally safe
    * because their outputs are functions of the row's value tuple
    * (row_number among FULLY tied rows permutes an identical multiset). */
  final case class Tab(name: String, key: String, cols: Seq[Col],
      uniqueKey: Boolean = true) {
    def of(k: Char): Seq[Col] = cols.filter(_.kind == k)
  }
  private def c(n: String, k: Char) = Col(n, k)

  val tabs: Seq[Tab] = Seq(
    Tab("region", "r_regionkey",
      Seq(c("r_regionkey", 'i'), c("r_name", 's'))),
    Tab("nation", "n_nationkey",
      Seq(c("n_nationkey", 'i'), c("n_name", 's'), c("n_regionkey", 'i'))),
    Tab("customer", "c_custkey",
      Seq(c("c_custkey", 'i'), c("c_name", 's'), c("c_nationkey", 'i'),
        c("c_acctbal", 'd'), c("c_mktsegment", 's'))),
    Tab("supplier", "s_suppkey",
      Seq(c("s_suppkey", 'i'), c("s_name", 's'), c("s_nationkey", 'i'),
        c("s_acctbal", 'd'))),
    Tab("part", "p_partkey",
      Seq(c("p_partkey", 'i'), c("p_name", 's'), c("p_brand", 's'),
        c("p_type", 's'), c("p_size", 'i'), c("p_retailprice", 'd'))),
    Tab("orders", "o_orderkey",
      Seq(c("o_orderkey", 'i'), c("o_custkey", 'i'), c("o_orderstatus", 's'),
        c("o_totalprice", 'd'), c("o_orderdate", 't'),
        c("o_orderpriority", 's'))),
    Tab("lineitem", "l_orderkey",
      Seq(c("l_orderkey", 'i'), c("l_partkey", 'i'), c("l_suppkey", 'i'),
        c("l_linenumber", 'i'), c("l_returnflag", 's'),
        c("l_linestatus", 's'), c("l_shipdate", 't')),
      uniqueKey = false),
    Tab("documents", "doc_id",
      Seq(c("doc_id", 'i'), c("lang", 's'), c("source", 's'),
        c("n_chars", 'i'))))

  /** (left table, left fk, right table, right key) — the star schema's
    * referential edges; join predicates come only from here. */
  val fks: Seq[(String, String, String, String)] = Seq(
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"))

  private val likePool =
    Seq("%a%", "%e%", "%an%", "%r", "A%", "_u%", "%ing%", "%o_")
  private val strLitPool = Seq("a", "e", "x", "N", "AUTO", "BUILD", "re")

  // ---- expression generators (all deterministic off the passed rng) ----
  private def pick[T](r: scala.util.Random, xs: Seq[T]): T =
    xs(r.nextInt(xs.length))

  /** Exact-integer scalar expression over `t` (qualified col names). */
  private def intExpr(r: scala.util.Random, t: Tab, depth: Int): String = {
    val leafs = t.of('i').map(col => s"${t.name}.${col.name}")
    if (depth <= 0 || r.nextInt(3) == 0) {
      if (r.nextInt(4) == 0) (r.nextInt(50) + 1).toString
      else pick(r, leafs)
    } else r.nextInt(7) match {
      case 0 => s"(${intExpr(r, t, depth - 1)} + ${intExpr(r, t, depth - 1)})"
      case 1 => s"(${intExpr(r, t, depth - 1)} - ${intExpr(r, t, depth - 1)})"
      case 2 => s"(${intExpr(r, t, depth - 1)} * ${r.nextInt(7) + 1})"
      case 3 => s"(${intExpr(r, t, depth - 1)} % ${r.nextInt(97) + 3})"
      case 4 => s"CASE WHEN ${pred(r, t, 0)} THEN ${intExpr(r, t, 0)} " +
        s"ELSE ${intExpr(r, t, 0)} END"
      case 5 => s"length(${strExpr(r, t, 0)})"
      case 6 if t.of('t').nonEmpty =>
        val f = pick(r, Seq("year", "month", "day"))
        s"$f(${t.name}.${pick(r, t.of('t')).name})"
      case _ => pick(r, leafs)
    }
  }

  /** ASCII string expression (byte-ordered in both engines). */
  private def strExpr(r: scala.util.Random, t: Tab, depth: Int): String = {
    val leafs = t.of('s').map(col => s"${t.name}.${col.name}")
    if (leafs.isEmpty) s"'${pick(r, strLitPool)}'"
    else if (depth <= 0 || r.nextInt(3) == 0) pick(r, leafs)
    else r.nextInt(5) match {
      case 0 => s"upper(${strExpr(r, t, depth - 1)})"
      case 1 => s"lower(${strExpr(r, t, depth - 1)})"
      case 2 => s"substr(${strExpr(r, t, depth - 1)}, " +
        s"${r.nextInt(4) + 1}, ${r.nextInt(8) + 1})"
      case 3 => s"(${strExpr(r, t, depth - 1)} || " +
        s"'${pick(r, strLitPool)}')"
      // NOT replace(): the guard's keyword blocklist — the reference's
      // _BLOCKED_STATEMENTS verbatim — rejects any query containing the
      // word REPLACE outside a star modifier, string function included.
      // The fuzz stays inside the product's legal surface.
      case _ => s"reverse(${strExpr(r, t, depth - 1)})"
    }
  }

  /** Predicate over `t`: int/str/double/timestamp comparisons, LIKE,
    * IN-lists, boolean combos. Doubles appear ONLY in raw comparisons. */
  private def pred(r: scala.util.Random, t: Tab, depth: Int): String = {
    val ops = Seq("=", "<>", "<", "<=", ">", ">=")
    def leaf: String = r.nextInt(6) match {
      case 0 => s"${intExpr(r, t, 1)} ${pick(r, ops)} ${r.nextInt(2000)}"
      case 1 => s"${intExpr(r, t, 0)} ${pick(r, ops)} ${intExpr(r, t, 0)}"
      case 2 => s"${strExpr(r, t, 0)} LIKE '${pick(r, likePool)}'"
      case 3 if t.of('d').nonEmpty =>
        s"${t.name}.${pick(r, t.of('d')).name} ${pick(r, ops)} " +
          s"${r.nextInt(9000) + 500}.${r.nextInt(10)}"
      case 4 if t.of('t').nonEmpty =>
        val y = 1992 + r.nextInt(7); val m = r.nextInt(12) + 1
        s"${t.name}.${pick(r, t.of('t')).name} ${pick(r, Seq("<", ">="))} " +
          f"TIMESTAMP '$y-$m%02d-15 00:00:00'"
      case 5 => s"${intExpr(r, t, 0)} IN (${Seq.fill(r.nextInt(4) + 1)(
        r.nextInt(3000)).mkString(", ")})"
      case _ => s"${intExpr(r, t, 0)} >= 0"
    }
    if (depth >= 2 || r.nextInt(3) > 0) leaf
    else r.nextInt(4) match {
      case 0 => s"(${pred(r, t, depth + 1)} AND ${pred(r, t, depth + 1)})"
      case 1 => s"(${pred(r, t, depth + 1)} OR ${pred(r, t, depth + 1)})"
      case 2 => s"(NOT ${pred(r, t, depth + 1)})"
      case _ => s"${intExpr(r, t, 0)} BETWEEN ${r.nextInt(500)} " +
        s"AND ${r.nextInt(4000) + 500}"
    }
  }

  /** Aggregate expression (engine-exact classes only). */
  private def aggExpr(r: scala.util.Random, t: Tab): String =
    r.nextInt(7) match {
      case 0 => "CAST(count(*) AS BIGINT)"
      case 1 => s"count(DISTINCT ${intExpr(r, t, 0)})"
      case 2 => s"CAST(sum(${intExpr(r, t, 1)}) AS BIGINT)"
      case 3 => s"min(${intExpr(r, t, 1)})"
      case 4 => s"max(${strExpr(r, t, 1)})"
      case 5 =>
        if (t.of('d').nonEmpty && r.nextBoolean())
          s"${pick(r, Seq("min", "max"))}(${t.name}.${pick(r, t.of('d')).name})"
        else s"max(${intExpr(r, t, 1)})"
      // aggregate FILTER clause — both engines speak it natively
      case _ => s"CAST(count(*) FILTER (WHERE ${pred(r, t, 1)}) AS BIGINT)"
    }

  private def scalarExpr(r: scala.util.Random, t: Tab): String =
    if (r.nextInt(3) == 0) strExpr(r, t, 2)
    else s"CAST(${intExpr(r, t, 2)} AS BIGINT)"

  // ---- query templates ---------------------------------------------------
  private def qFilterProject(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val items = (0 until r.nextInt(3) + 2)
      .map(i => s"${scalarExpr(r, t)} AS c$i")
    s"SELECT ${(s"${t.name}.${t.key} AS k" +: items).mkString(", ")} " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)}"
  }

  private def qGroupAgg(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val nG = r.nextInt(2) + 1
    val gs = (0 until nG).map(i => s"${scalarExpr(r, t)} AS g$i")
    val as = (0 until r.nextInt(2) + 1).map(i => s"${aggExpr(r, t)} AS a$i")
    val having =
      if (r.nextInt(3) == 0) s" HAVING count(*) > ${r.nextInt(3)}" else ""
    s"SELECT ${(gs ++ as).mkString(", ")} FROM ${t.name} " +
      s"WHERE ${pred(r, t, 0)} " +
      s"GROUP BY ${(1 to nG).mkString(", ")}$having"
  }

  private def qJoin(r: scala.util.Random): String = {
    val (lt, fk, rt, pk) = pick(r, fks)
    val l = tabs.find(_.name == lt).get; val rr = tabs.find(_.name == rt).get
    val join = s"${l.name} JOIN ${rr.name} ON ${l.name}.$fk = ${rr.name}.$pk"
    val where = s"(${pred(r, l, 1)} AND ${pred(r, rr, 1)})"
    if (r.nextBoolean()) {
      val gs = Seq(s"${scalarExpr(r, rr)} AS g0")
      val as = Seq(s"${aggExpr(r, l)} AS a0", "CAST(count(*) AS BIGINT) AS a1")
      s"SELECT ${(gs ++ as).mkString(", ")} FROM $join WHERE $where GROUP BY 1"
    } else {
      val items = Seq(s"${l.name}.${l.key} AS k0", s"${rr.name}.${rr.key} AS k1",
        s"${scalarExpr(r, l)} AS c0", s"${scalarExpr(r, rr)} AS c1")
      s"SELECT ${items.mkString(", ")} FROM $join WHERE $where"
    }
  }

  private def qWindowQualify(r: scala.util.Random): String = {
    val t = pick(r, tabs.filter(x => x.of('i').size >= 2))
    val g = s"(${t.name}.${pick(r, t.of('i')).name} % ${r.nextInt(7) + 2})"
    val fn = r.nextInt(4) match {
      case 0 => s"row_number() OVER (PARTITION BY $g ORDER BY ${t.name}.${t.key})"
      case 1 => s"rank() OVER (PARTITION BY $g " +
        s"ORDER BY ${intExpr(r, t, 0)}, ${t.name}.${t.key})"
      case 2 => s"dense_rank() OVER (PARTITION BY $g " +
        s"ORDER BY ${intExpr(r, t, 0)}, ${t.name}.${t.key})"
      case _ => s"sum(${intExpr(r, t, 0)}) OVER (PARTITION BY $g " +
        s"ORDER BY ${t.name}.${t.key})"
    }
    val sel = s"SELECT ${t.name}.${t.key} AS k, CAST($g AS BIGINT) AS g, " +
      s"CAST($fn AS BIGINT) AS rn FROM ${t.name} WHERE ${pred(r, t, 0)}"
    r.nextInt(4) match {
      case 0 => sel
      case 1 => s"$sel QUALIFY rn <= ${r.nextInt(3) + 1}"
      case 2 => // DISTINCT body + INLINE window (r14: QUALIFY evaluates
        // BEFORE DISTINCT — DuckDB order, measured; the rewriter strips
        // DISTINCT, injects, filters, re-applies DISTINCT above).
        // rank/dense_rank only: ties pass or fail TOGETHER, so the
        // filtered set is value-determined even on dup-row tables.
        val rfn = (if (r.nextBoolean()) "rank" else "dense_rank") +
          s"() OVER (PARTITION BY $g ORDER BY ${intExpr(r, t, 0)}, " +
          s"${t.name}.${t.key})"
        s"SELECT DISTINCT CAST($g AS BIGINT) AS g, " +
          s"CAST(${intExpr(r, t, 1)} % ${r.nextInt(5) + 2} AS BIGINT) AS c0 " +
          s"FROM ${t.name} WHERE ${pred(r, t, 0)} " +
          s"QUALIFY $rfn <= ${r.nextInt(3) + 1}"
      case _ => // INLINE window in the condition (no select alias) —
        // DuckDB evaluates it directly; the rewriter must inject it
        // into the select list (windows are illegal in WHERE)
        s"SELECT ${t.name}.${t.key} AS k, CAST($g AS BIGINT) AS g " +
          s"FROM ${t.name} WHERE ${pred(r, t, 0)} " +
          s"QUALIFY $fn <= ${r.nextInt(3) + 1}"
    }
  }

  private def qStarModifier(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val nEx = r.nextInt(2) + 1
    // timestamps are ALWAYS excluded from star pass-through: Spark dumps
    // parquet instants (tz-aware) where DuckDB returns naive values — a
    // representation difference in the compare harness, not a defect;
    // timestamp semantics are fuzzed through predicates/extracts instead
    val ts = t.of('t').map(_.name)
    val ex = (r.shuffle(t.cols.filter(c => c.name != t.key && c.kind != 't'))
      .take(nEx).map(_.name) ++ ts).distinct
    val rep = if (r.nextBoolean() && t.of('s').exists(s => !ex.contains(s.name))) {
      val sc = pick(r, t.of('s').filter(s => !ex.contains(s.name))).name
      s" REPLACE (upper(${t.name}.$sc) AS $sc)"
    } else ""
    s"SELECT * EXCLUDE (${ex.mkString(", ")})$rep FROM ${t.name} " +
      s"WHERE ${pred(r, t, 0)}"
  }

  private def qDistinct(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val items = (0 until r.nextInt(2) + 1).map(i => s"${scalarExpr(r, t)} AS c$i")
    s"SELECT DISTINCT ${items.mkString(", ")} FROM ${t.name} " +
      s"WHERE ${pred(r, t, 0)}"
  }

  private def qLeftJoin(r: scala.util.Random): String = {
    val (lt, fk, rt, pk) = pick(r, fks)
    val l = tabs.find(_.name == lt).get; val rr = tabs.find(_.name == rt).get
    // extra ON-side predicate on the RIGHT side manufactures unmatched
    // rows (the data is referentially intact, so a bare fk join never
    // would) — null-extension semantics cross-checked for real
    val join = s"${l.name} LEFT JOIN ${rr.name} ON " +
      s"${l.name}.$fk = ${rr.name}.$pk AND ${pred(r, rr, 1)}"
    s"SELECT ${l.name}.${l.key} AS k, ${rr.name}.${rr.key} AS rk, " +
      s"CASE WHEN ${rr.name}.${rr.key} IS NULL THEN 0 ELSE 1 END AS hit " +
      s"FROM $join WHERE ${pred(r, l, 1)}"
  }

  private def qUnionAll(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val items = s"${t.name}.${t.key} AS k, ${scalarExpr(r, t)} AS c0"
    s"SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"UNION ALL SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)}"
  }

  private def qRollup(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val g0 = s"${scalarExpr(r, t)}"
    // distinct expressions only: ROLLUP(x, x) is a KNOWN cross-engine
    // semantic difference on a degenerate query — DuckDB dedups
    // equivalent grouping expressions (the (x) subtotal keeps both
    // output columns valued) while Spark keys grouping sets by
    // POSITION (the second column nulls). Found by seeds 7/1234;
    // documented in COVERAGE.md, out of the generator's legal surface.
    val g1raw = s"${strExpr(r, t, 1)}"
    val g1 = if (g1raw == g0) s"upper($g1raw)" else g1raw
    val sets = pick(r, Seq("ROLLUP", "CUBE"))
    // sometimes TWO distinct aggregates: RewriteDistinctAggregates then
    // restructures the grouping-sets plan (the EmptyGroupingSetsRule
    // guard's exact hazard shape) — fuzzed through the applyAnalyzed
    // path the product uses
    val extra = if (r.nextInt(3) == 0)
      s", count(DISTINCT ${intExpr(r, t, 0)}) AS a1" +
        s", count(DISTINCT ${strExpr(r, t, 0)}) AS a2"
    else ""
    s"SELECT $g0 AS g0, $g1 AS g1, CAST(count(*) AS BIGINT) AS cnt, " +
      s"${aggExpr(r, t)} AS a0$extra FROM ${t.name} " +
      s"WHERE ${pred(r, t, 0)} GROUP BY $sets(g0, g1)"
  }

  private def qCte(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    // the CTE body re-aliases columns, and the outer query can only see
    // those aliases — exercises WITH handling through the rewriters and
    // the guard's "starts with WITH" branch
    val inner = s"SELECT ${t.name}.${t.key} AS k, " +
      s"${scalarExpr(r, t)} AS c0, ${strExpr(r, t, 1)} AS c1 " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)}"
    r.nextInt(3) match {
      case 0 => s"WITH w AS ($inner) SELECT k, c0 FROM w WHERE c1 LIKE " +
        s"'${pick(r, likePool)}'"
      case 1 => s"WITH w AS ($inner) SELECT c1, CAST(count(*) AS BIGINT) " +
        s"AS cnt, min(c0) AS m FROM w GROUP BY 1"
      case _ => s"WITH w AS ($inner), x AS (SELECT c1, " +
        s"CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY 1) " +
        s"SELECT w.k AS k, w.c1 AS c1, x.cnt AS cnt FROM w " +
        s"JOIN x ON x.c1 = w.c1"
    }
  }

  private def qExists(r: scala.util.Random): String = {
    val (lt, fk, rt, pk) = pick(r, fks)
    val l = tabs.find(_.name == lt).get; val rr = tabs.find(_.name == rt).get
    val not = if (r.nextBoolean()) "NOT " else ""
    s"SELECT ${l.name}.${l.key} AS k, ${scalarExpr(r, l)} AS c0 " +
      s"FROM ${l.name} WHERE ${not}EXISTS (SELECT 1 FROM ${rr.name} " +
      s"WHERE ${rr.name}.$pk = ${l.name}.$fk AND ${pred(r, rr, 1)}) " +
      s"AND ${pred(r, l, 1)}"
  }

  private def qOrderLimit(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    // unique-key tiebreak makes the LIMIT cut deterministic on both sides
    val base = s"SELECT ${t.name}.${t.key} AS k, ${scalarExpr(r, t)} AS c0 " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)} "
    r.nextInt(3) match {
      case 0 => base +
        s"ORDER BY c0${if (r.nextBoolean()) " DESC" else ""}, k " +
        s"LIMIT ${r.nextInt(500) + 10}"
      case 1 => // ORDER BY ALL (the DuckDB idiom; Spark 4 parses it
        // natively, r14 probe) — every select item left-to-right, so
        // (k, c0) totally orders up to full-duplicate pairs and the
        // LIMIT cut stays value-determined on dup-row tables too
        base + s"ORDER BY ALL${if (r.nextBoolean()) " DESC" else ""} " +
          s"LIMIT ${r.nextInt(500) + 10}"
      case _ => // LIMIT + OFFSET pagination (both engines)
        base + s"ORDER BY c0, k LIMIT ${r.nextInt(200) + 5} " +
          s"OFFSET ${r.nextInt(50)}"
    }
  }

  private def qInSubquery(r: scala.util.Random): String = {
    val (lt, fk, rt, pk) = pick(r, fks)
    val l = tabs.find(_.name == lt).get; val rr = tabs.find(_.name == rt).get
    s"SELECT ${l.name}.${l.key} AS k, ${scalarExpr(r, l)} AS c0 " +
      s"FROM ${l.name} WHERE ${l.name}.$fk IN " +
      s"(SELECT ${rr.name}.$pk FROM ${rr.name} WHERE ${pred(r, rr, 0)}) " +
      s"AND ${pred(r, l, 1)}"
  }

  // ---- round-10 grammar growth: the dialect's untested edges ------------

  /** Multi-byte literals (2-, 3-, 4-byte UTF-8 incl. surrogate-pair
    * emoji). 'ß' is deliberately absent: DuckDB upper-cases it to 'ẞ'
    * (capital sharp s) where the JVM produces 'SS' — a real unicode
    * case-mapping divergence outside the dialect's contract (the
    * reference's data is ASCII); likewise no Turkish 'İ/ı' or final
    * sigma, the other locale-sensitive mappings. */
  private val uniPool = Seq("café", "Über", "naïve", "héllo wörld",
    "日本語テキスト", "Ünïcode", "😀🚀", "Ĳsselmeer", "łódź", "ÉCOLE")
  private val uniLikePool =
    Seq("%é%", "%日本%", "%ö%", "%😀%", "%a%é%", "%Ü%", "%ó_ź%")

  /** Non-ASCII string semantics: code-point-based length/substr/
    * reverse, unicode case mapping, binary-collation comparisons and
    * LIKE — over strings mixing (ASCII) table columns with multi-byte
    * literals. Both engines count/slice CODE POINTS and compare raw
    * UTF-8 bytes, so results are exact by construction; StatefulDedup
    * already had one bug in this class, hence the coverage. */
  private def qUnicode(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val lit = pick(r, uniPool)
    val s0 = s"(${strExpr(r, t, 1)} || '$lit')"
    val items = Seq(
      s"${t.name}.${t.key} AS k",
      s"$s0 AS c0",
      s"CAST(length($s0) AS BIGINT) AS c1",
      s"substr($s0, ${r.nextInt(6) + 1}, ${r.nextInt(8) + 1}) AS c2",
      s"reverse(${pick(r, Seq(s0, s"'$lit'"))}) AS c3",
      s"${pick(r, Seq("upper", "lower"))}($s0) AS c4")
    val wh = r.nextInt(3) match {
      case 0 => s"$s0 LIKE '${pick(r, uniLikePool)}'"
      case 1 => s"$s0 ${pick(r, Seq("<", ">="))} '${pick(r, uniPool)}'"
      case _ => pred(r, t, 0)
    }
    s"SELECT ${items.mkString(", ")} FROM ${t.name} WHERE $wh"
  }

  /** DECIMAL arithmetic: exact fixed-point +/-/× chains seeded from INT
    * columns (never doubles — a double→decimal cast rounds binary noise)
    * with exact decimal literals, plus sum/min/max. Every result column
    * is cast to ONE explicit DECIMAL type in the QUERY TEXT: the two
    * engines' precision/scale PROPAGATION rules differ, and the compare
    * harness string-compares decimals, so scale is part of the value.
    * Max reachable scale is 3 + 2×2 = 7 < 8, so the final (38,8) cast
    * never rounds — any mismatch is real engine arithmetic. */
  private def qDecimal(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    def dec(depth: Int): String =
      if (depth <= 0) s"CAST(${intExpr(r, t, 0)} AS DECIMAL(18,3))"
      else r.nextInt(4) match {
        case 0 => s"(${dec(depth - 1)} + ${dec(depth - 1)})"
        case 1 => f"(${dec(depth - 1)} - ${r.nextInt(1000)}%d.${r.nextInt(1000)}%03d)"
        case 2 => f"(${dec(depth - 1)} * ${r.nextInt(9)}%d.${r.nextInt(100)}%02d)"
        case _ => dec(depth - 1)
      }
    if (r.nextBoolean())
      s"SELECT ${t.name}.${t.key} AS k, " +
        s"CAST(${dec(2)} AS DECIMAL(38,8)) AS d0, " +
        s"CAST(${dec(1)} AS DECIMAL(38,8)) AS d1 " +
        s"FROM ${t.name} WHERE ${pred(r, t, 0)}"
    else
      s"SELECT ${scalarExpr(r, t)} AS g0, " +
        s"CAST(sum(${dec(2)}) AS DECIMAL(38,8)) AS d0, " +
        s"CAST(${pick(r, Seq("min", "max"))}(${dec(1)}) AS DECIMAL(38,8)) " +
        s"AS d1, CAST(count(*) AS BIGINT) AS cnt " +
        s"FROM ${t.name} WHERE ${pred(r, t, 0)} GROUP BY 1"
  }

  /** INTERSECT / EXCEPT, set and ALL (bag) semantics. The non-key
    * variant makes multiplicities > 1 so ALL's bag arithmetic is
    * actually exercised (with the unique key both flavors coincide). */
  private def qSetOp(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val op = pick(r, Seq("INTERSECT", "EXCEPT", "INTERSECT ALL",
      "EXCEPT ALL"))
    val items =
      if (r.nextBoolean()) s"${t.name}.${t.key} AS k, ${scalarExpr(r, t)} AS c0"
      else s"${strExpr(r, t, 1)} AS c0, CAST(${intExpr(r, t, 1)} % 17 " +
        s"AS BIGINT) AS c1"
    s"SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"$op SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)}"
  }

  /** Scalar subqueries in SELECT (correlated count — the classic
    * count-bug shape: an empty correlation group must read 0, not NULL)
    * and in WHERE (uncorrelated aggregate; empty → NULL → row drops,
    * same in both engines). */
  private def qScalarSub(r: scala.util.Random): String = {
    val (lt, fk, rt, pk) = pick(r, fks)
    val l = tabs.find(_.name == lt).get; val rr = tabs.find(_.name == rt).get
    s"SELECT ${l.name}.${l.key} AS k, " +
      s"CAST((SELECT count(*) FROM ${rr.name} " +
      s"WHERE ${rr.name}.$pk = ${l.name}.$fk AND ${pred(r, rr, 1)}) " +
      s"AS BIGINT) AS c0, ${scalarExpr(r, l)} AS c1 " +
      s"FROM ${l.name} " +
      s"WHERE ${l.name}.$fk <= (SELECT max(${rr.name}.$pk) FROM ${rr.name} " +
      s"WHERE ${pred(r, rr, 0)}) AND ${pred(r, l, 1)}"
  }

  /** IN / NOT IN with NULLABLE values on either side — three-valued
    * logic's trap cases, uncovered by [[qInSubquery]] (positive IN on
    * non-null keys only). A NULL anywhere in the subquery's list makes
    * `NOT IN` UNKNOWN for every non-matching probe (zero rows kept); a
    * NULL probe is UNKNOWN for both polarities. Spark plans the
    * subquery form as a null-aware anti join — a dedicated physical
    * path the rest of the grammar never exercises. The in-list variant
    * fuzzes the same logic through constant folding, including an
    * explicit NULL literal in the list. */
  private def qNullAwareIn(r: scala.util.Random): String = {
    val (lt, fk, rt, pk) = pick(r, fks)
    val l = tabs.find(_.name == lt).get; val rr = tabs.find(_.name == rt).get
    val not = if (r.nextBoolean()) "NOT " else ""
    // probe side: 1-in-3 nullable (NULLIF carves NULLs out of the fk)
    val probe =
      if (r.nextInt(3) == 0) s"NULLIF(${l.name}.$fk, ${r.nextInt(50)})"
      else s"${l.name}.$fk"
    val rhs = r.nextInt(3) match {
      case 0 => // nullable subquery values: the NOT IN kill switch
        s"(SELECT NULLIF(${rr.name}.$pk, ${r.nextInt(200)}) " +
          s"FROM ${rr.name} WHERE ${pred(r, rr, 0)})"
      case 1 => // non-null subquery values, nullable probe still fuzzed
        s"(SELECT ${rr.name}.$pk FROM ${rr.name} WHERE ${pred(r, rr, 0)})"
      case _ => // literal in-list, sometimes with an explicit NULL
        val vals = Seq.fill(r.nextInt(3) + 2)(r.nextInt(500).toString)
        val withNull = if (r.nextBoolean()) vals :+ "NULL" else vals
        s"(${withNull.mkString(", ")})"
    }
    s"SELECT ${l.name}.${l.key} AS k, ${scalarExpr(r, l)} AS c0 " +
      s"FROM ${l.name} WHERE $probe ${not}IN $rhs AND ${pred(r, l, 1)}"
  }

  /** Explicit NULLS FIRST/LAST under LIMIT: the engines' DEFAULTS
    * differ (Spark ASC places nulls first, DuckDB last), so the dialect
    * contract is the explicit form only — which must then cut the SAME
    * rows. CASE with no ELSE manufactures the NULLs. */
  private def qNullsOrder(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val c0 = s"CASE WHEN ${pred(r, t, 1)} THEN ${intExpr(r, t, 1)} END"
    val dir = pick(r, Seq("ASC", "DESC"))
    val nf = pick(r, Seq("NULLS FIRST", "NULLS LAST"))
    s"SELECT ${t.name}.${t.key} AS k, CAST($c0 AS BIGINT) AS c0 " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"ORDER BY c0 $dir $nf, k LIMIT ${r.nextInt(300) + 20}"
  }

  /** grouping()/grouping_id() in SELECT and HAVING over CUBE/ROLLUP.
    * Single-arg grouping() and EXPLICIT-args grouping_id() only:
    * DuckDB 1.0 has no zero-arg grouping_id(). Both engines put the
    * leftmost argument in the MOST significant bit (probed). PLAIN
    * COLUMN grouping arguments only — Spark resolves HAVING against
    * the aggregate's output, where a COMPLEX grouping expression's
    * input columns no longer exist (UNRESOLVED_COLUMN; SELECT aliases
    * are refused too, GROUPING_COLUMN_MISMATCH), so bare columns are
    * the one form both engines accept; complex grouping-sets
    * expressions are covered by qRollup. A second Spark constraint
    * (probed): the grouping columns must appear UNALIASED in the SELECT
    * list, or HAVING's grouping(col) loses its anchor — so the template
    * selects the bare columns (both engines then name the output by the
    * bare column name, keeping the compare aligned). Distinct columns
    * guaranteed (the documented ROLLUP(x,x) divergence). */
  private def qGroupingHaving(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val g0 = s"${t.name}.${pick(r, t.of('i')).name}"
    val g1 = s"${t.name}.${pick(r, t.of('s')).name}"
    val sets = pick(r, Seq("CUBE", "ROLLUP"))
    val having = r.nextInt(3) match {
      case 0 => s"grouping($g0) = ${r.nextInt(2)}"
      case 1 => s"grouping_id($g0, $g1) ${pick(r, Seq("=", "<>", "<="))} " +
        s"${r.nextInt(4)}"
      case _ => s"(grouping($g1) = ${r.nextInt(2)} AND count(*) > " +
        s"${r.nextInt(3)})"
    }
    s"SELECT $g0, $g1, CAST(grouping($g0) AS BIGINT) AS gg, " +
      s"CAST(grouping_id($g0, $g1) AS BIGINT) AS gid, " +
      s"CAST(count(*) AS BIGINT) AS cnt FROM ${t.name} " +
      s"WHERE ${pred(r, t, 0)} GROUP BY $sets($g0, $g1) HAVING $having"
  }

  /** Window functions with explicit FRAMES (r10 verdict task 4: the
    * grammar had no ROWS/RANGE BETWEEN, no lag/lead, no NULLS FIRST/
    * LAST inside window ORDER BY — W2 was gate-covered by a handful of
    * handwritten queries while windows are the reference dialect's
    * advertised surface, analyzer.py:38-39).
    *
    * Determinism discipline: row_number/lag/lead/first_value/last_value/
    * ntile and every frame aggregate get the table KEY as the final
    * ORDER BY tiebreak (total order); rank/dense_rank sometimes drop it
    * — their output is a function of the row's VALUE tuple, so peers
    * tie identically in both engines. RANGE frames order by a single
    * int expression (value-defined frames are tie-safe by construction).
    * Nullable ORDER BY values are manufactured with NULLIF and ALWAYS
    * carry an explicit NULLS FIRST/LAST — Spark defaults NULLS FIRST
    * for ASC where DuckDB defaults LAST, so a bare nullable ORDER BY
    * would fuzz the default instead of the semantics. */
  private def qWindowFrames(r: scala.util.Random): String = {
    // uniqueKey tables ONLY: these templates frame/lag columns the
    // ORDER BY doesn't cover, so the final tiebreak must be a TOTAL
    // order — lineitem has none (see Tab.uniqueKey)
    val t = pick(r, tabs.filter(x => x.of('i').size >= 2 && x.uniqueKey))
    val key = s"${t.name}.${t.key}"
    val tie = key
    val g = s"(${t.name}.${pick(r, t.of('i')).name} % ${r.nextInt(5) + 2})"
    val ie = intExpr(r, t, 0)
    // nullable order value: NULL for one residue class
    val nu = s"NULLIF(${intExpr(r, t, 0)} % ${r.nextInt(5) + 3}, " +
      s"${r.nextInt(3)})"
    val nulls = pick(r, Seq("NULLS FIRST", "NULLS LAST"))
    val dir = pick(r, Seq("ASC", "DESC"))
    val fn = r.nextInt(8) match {
      case 0 =>
        val k = r.nextInt(3) + 1
        s"lag($ie, $k, ${r.nextInt(100) - 50}) OVER " +
          s"(PARTITION BY $g ORDER BY $nu $dir $nulls, $tie)"
      case 1 =>
        val k = r.nextInt(3) + 1
        s"lead($ie, $k) OVER (PARTITION BY $g ORDER BY $tie)"
      case 2 =>
        val k = r.nextInt(4)
        s"sum($ie) OVER (PARTITION BY $g ORDER BY $nu $dir $nulls, $tie " +
          s"ROWS BETWEEN $k PRECEDING AND CURRENT ROW)"
      case 3 =>
        val a = pick(r, Seq("min", "max"))
        s"$a($ie) OVER (PARTITION BY $g ORDER BY $tie " +
          s"ROWS BETWEEN ${r.nextInt(3)} PRECEDING AND " +
          s"${r.nextInt(3) + 1} FOLLOWING)"
      case 4 =>
        s"count(*) OVER (PARTITION BY $g ORDER BY $tie " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND " +
          s"${r.nextInt(3)} FOLLOWING)"
      case 5 =>
        // RANGE: value-defined frame over a single int order expression
        val ord = s"(${intExpr(r, t, 0)} % 1000)"
        s"sum($ie) OVER (PARTITION BY $g ORDER BY $ord " +
          s"RANGE BETWEEN ${r.nextInt(50) + 1} PRECEDING AND CURRENT ROW)"
      case 6 =>
        val fv = pick(r, Seq("first_value", "last_value"))
        s"$fv($ie) OVER (PARTITION BY $g ORDER BY $nu $dir $nulls, $tie " +
          s"ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
      case _ =>
        s"ntile(${r.nextInt(4) + 2}) OVER (PARTITION BY $g ORDER BY $tie)"
    }
    // rank/dense_rank additionally as a PEERS probe: non-unique order,
    // deterministic because ties rank identically
    val peers = s"${pick(r, Seq("rank", "dense_rank"))}() OVER " +
      s"(PARTITION BY $g ORDER BY $nu $dir $nulls)"
    s"SELECT $key AS k, CAST($g AS BIGINT) AS g, " +
      s"CAST($fn AS BIGINT) AS w0, CAST($peers AS BIGINT) AS w1 " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)}"
  }

  /** Windows OVER GROUPED input: the aggregate's output feeds the
    * window (group keys unique ⇒ total order for free); running sums
    * and ranks over the aggregation — the reference's gold-job idiom. */
  private def qWindowOverGrouped(r: scala.util.Random): String = {
    val t = pick(r, tabs.filter(_.of('i').size >= 2))
    val g = s"(${t.name}.${pick(r, t.of('i')).name} % ${r.nextInt(7) + 2})"
    val inner = s"SELECT CAST($g AS BIGINT) AS g, " +
      s"CAST(count(*) AS BIGINT) AS c, " +
      s"CAST(sum(${intExpr(r, t, 1)}) AS BIGINT) AS s " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)} GROUP BY 1"
    val w = r.nextInt(3) match {
      case 0 => "CAST(rank() OVER (ORDER BY c DESC, g) AS BIGINT) AS w0, " +
        "CAST(sum(c) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS w1"
      case 1 => "CAST(row_number() OVER (ORDER BY s DESC, g) AS BIGINT) " +
        "AS w0, CAST(lag(s, 1, 0) OVER (ORDER BY g) AS BIGINT) AS w1"
      case _ => "CAST(sum(s) OVER (ORDER BY g ROWS BETWEEN 1 PRECEDING " +
        "AND 1 FOLLOWING) AS BIGINT) AS w0, " +
        "CAST(max(c) OVER (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING " +
        "AND CURRENT ROW) AS BIGINT) AS w1"
    }
    val qual = if (r.nextInt(3) == 0) s" QUALIFY w0 <= ${r.nextInt(5) + 2}"
      else ""
    s"WITH a AS ($inner) SELECT g, c, s, $w FROM a$qual"
  }

  /** Explicit GROUPING SETS including the empty set () — listed ONCE
    * (listing it twice is the documented cross-engine divergence, README
    * Dialect notes; EngineChecksSpec pins that shape instead). Sometimes
    * a constant-false predicate: the ISO empty-input grand-total row
    * must survive through the analyzed-stage EmptyGroupingSetsRule on
    * the product path. */
  private def qGroupingSetsExplicit(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val g0 = scalarExpr(r, t)
    val g1raw = strExpr(r, t, 1)
    val g1 = if (g1raw == g0) s"upper($g1raw)" else g1raw
    val sets = r.nextInt(3) match {
      case 0 => s"GROUPING SETS (($g0, $g1), ($g0), ())"
      case 1 => s"GROUPING SETS (($g0), ($g1), ())"
      case _ => s"GROUPING SETS (($g0, $g1), ())"
    }
    val where = if (r.nextInt(4) == 0) "length('x') < 0" // statically empty
      else pred(r, t, 0)
    s"SELECT $g0 AS g0, $g1 AS g1, CAST(count(*) AS BIGINT) AS cnt, " +
      s"CAST(grouping_id($g0, $g1) AS BIGINT) AS gid, " +
      s"min(${intExpr(r, t, 1)}) AS m FROM ${t.name} " +
      s"WHERE $where GROUP BY $sets"
  }

  // ---- round-12 grammar growth: the remaining physical join/subquery
  // paths (r11 verdict task 5) --------------------------------------------

  /** EXISTS/NOT EXISTS in a DISJUNCTION or in SELECT's CASE — the
    * ExistenceJoin physical path. A conjunctive correlated EXISTS
    * ([[qExists]]) plans as a plain semi/anti join; only when the
    * EXISTS result must survive as a BOOLEAN (OR'd with another
    * predicate, or computed in the projection) does Spark emit
    * ExistenceJoin (the exists-flag join), a join shape nothing else
    * in the grammar reaches. */
  private def qExistenceJoin(r: scala.util.Random): String = {
    val (lt, fk, rt, pk) = pick(r, fks)
    val l = tabs.find(_.name == lt).get; val rr = tabs.find(_.name == rt).get
    val not = if (r.nextBoolean()) "NOT " else ""
    val sub = s"${not}EXISTS (SELECT 1 FROM ${rr.name} " +
      s"WHERE ${rr.name}.$pk = ${l.name}.$fk AND ${pred(r, rr, 1)})"
    if (r.nextBoolean())
      // disjunctive: the flag feeds an OR, so the join must produce it
      s"SELECT ${l.name}.${l.key} AS k, ${scalarExpr(r, l)} AS c0 " +
        s"FROM ${l.name} WHERE ($sub OR ${pred(r, l, 1)})"
    else
      // projected: CASE WHEN EXISTS — the flag IS an output value
      s"SELECT ${l.name}.${l.key} AS k, " +
        s"CAST(CASE WHEN $sub THEN 1 ELSE 0 END AS BIGINT) AS c0, " +
        s"${scalarExpr(r, l)} AS c1 " +
        s"FROM ${l.name} WHERE ${pred(r, l, 1)}"
  }

  /** FULL OUTER join on NULLABLE keys: NULLIF carves NULLs out of both
    * sides' join keys — a NULL key matches nothing (no NULL = NULL),
    * so those rows null-extend on their own side; unmatched non-null
    * keys null-extend too. COALESCE sentinels keep the output columns
    * non-null for the compare. Both sides are filtered subqueries, so
    * the unmatched sets are non-trivial in both directions. */
  private def qFullOuter(r: scala.util.Random): String = {
    val (lt, fk, rt, pk) = pick(r, fks)
    val l = tabs.find(_.name == lt).get; val rr = tabs.find(_.name == rt).get
    val aKey =
      if (r.nextInt(2) == 0) s"NULLIF(${l.name}.$fk, ${r.nextInt(100)})"
      else s"${l.name}.$fk"
    val bKey =
      if (r.nextInt(2) == 0) s"NULLIF(${rr.name}.$pk, ${r.nextInt(100)})"
      else s"${rr.name}.$pk"
    s"SELECT COALESCE(a.k, -1) AS ak, COALESCE(b.k, -1) AS bk, " +
      s"COALESCE(a.c0, -1) AS c0, COALESCE(b.c1, -1) AS c1 FROM " +
      s"(SELECT $aKey AS k, CAST(${intExpr(r, l, 1)} AS BIGINT) AS c0 " +
      s"FROM ${l.name} WHERE ${pred(r, l, 1)}) a " +
      s"FULL OUTER JOIN " +
      s"(SELECT $bKey AS k, CAST(${intExpr(r, rr, 1)} AS BIGINT) AS c1 " +
      s"FROM ${rr.name} WHERE ${pred(r, rr, 1)}) b ON a.k = b.k"
  }

  /** HAVING without GROUP BY: the implicit global aggregate — one
    * group over the whole input (present even when the input is
    * EMPTY), then HAVING keeps or drops that single row. A distinct
    * analyzer path (HAVING resolved against an Aggregate with no
    * grouping expressions) nothing else in the grammar reaches;
    * sometimes a statically-false WHERE probes the empty-input row. */
  private def qHavingNoGroup(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val where = if (r.nextInt(4) == 0) "length('x') < 0" // statically empty
      else pred(r, t, 0)
    val having = r.nextInt(3) match {
      case 0 => s"count(*) > ${r.nextInt(100)}"
      case 1 => s"min(${intExpr(r, t, 0)}) <= ${r.nextInt(2000)}"
      case _ => s"(count(*) >= ${r.nextInt(3)} AND " +
        s"max(${strExpr(r, t, 0)}) > '${pick(r, strLitPool)}')"
    }
    s"SELECT CAST(count(*) AS BIGINT) AS c, " +
      s"CAST(sum(${intExpr(r, t, 1)}) AS BIGINT) AS s, " +
      s"min(${strExpr(r, t, 1)}) AS m " +
      s"FROM ${t.name} WHERE $where HAVING $having"
  }

  /** ORDER BY on EXPRESSIONS, select-list ALIASES, and ORDINALS under
    * LIMIT — [[qOrderLimit]] only ever orders by one alias. Sort keys
    * not in the projection, computed keys, and positional references
    * each resolve through a different analyzer path; the table key is
    * always the final tiebreak so the LIMIT cut is total-ordered. */
  private def qOrderByExpr(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val dir = pick(r, Seq("", " DESC"))
    val items = s"${t.name}.${t.key} AS k, ${scalarExpr(r, t)} AS c0, " +
      s"${strExpr(r, t, 1)} AS c1"
    val order = r.nextInt(3) match {
      case 0 => // raw expression, possibly absent from the projection
        s"(${intExpr(r, t, 1)} % ${r.nextInt(50) + 3})$dir, " +
          s"length(${strExpr(r, t, 0)})$dir, k"
      case 1 => // ordinals (2 = c0, 3 = c1), key tiebreak by alias
        s"2$dir, 3, 1"
      case _ => // alias mixed with an expression over an alias's source
        s"c1$dir, (${intExpr(r, t, 0)} + 1), k"
    }
    s"SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"ORDER BY $order LIMIT ${r.nextInt(400) + 20}"
  }

  /** Correlated scalar subquery in SELECT over GROUPED input: the
    * aggregate runs in a CTE and the subquery correlates to its GROUP
    * KEY in the outer select, so the rewrite must join the subquery
    * onto the AGGREGATE's output (RewriteCorrelatedScalarSubquery above
    * an Aggregate — a plan shape [[qScalarSub]] never makes). The
    * same-level form (subquery directly in the grouped SELECT) is a
    * documented Spark restriction — SCALAR_SUBQUERY_IS_IN_GROUP_BY_OR_
    * AGGREGATE_FUNCTION — where DuckDB accepts it; the CTE form is the
    * shape both engines speak (first sweep of this template found
    * that, 11/300 rejected). COALESCE pins the empty-correlation NULL
    * on both engines; the count variant probes the count-bug shape
    * (0, not NULL). */
  private def qScalarSubOverGrouped(r: scala.util.Random): String = {
    val (lt, fk, rt, pk) = pick(r, fks)
    val l = tabs.find(_.name == lt).get; val rr = tabs.find(_.name == rt).get
    val sub = r.nextInt(2) match {
      case 0 => s"COALESCE((SELECT min(${intExpr(r, rr, 1)}) " +
        s"FROM ${rr.name} WHERE ${rr.name}.$pk = a.g " +
        s"AND ${pred(r, rr, 1)}), -1)"
      case _ => s"(SELECT count(*) FROM ${rr.name} " +
        s"WHERE ${rr.name}.$pk = a.g AND ${pred(r, rr, 1)})"
    }
    s"WITH a AS (SELECT ${l.name}.$fk AS g, " +
      s"CAST(count(*) AS BIGINT) AS c, " +
      s"CAST(max(${intExpr(r, l, 1)}) AS BIGINT) AS mx " +
      s"FROM ${l.name} WHERE ${pred(r, l, 1)} GROUP BY ${l.name}.$fk) " +
      s"SELECT a.g AS g, a.c AS c, a.mx AS mx, " +
      s"CAST($sub AS BIGINT) AS sub FROM a"
  }

  // ---- round-13 grammar growth: set-op nesting + lateral (verdict 7) ----

  /** UNION [ALL] hidden inside a FROM-subquery or a CTE body, with an
    * outer aggregate/DISTINCT over it — the set op is no longer the
    * statement's top-level shape, so it exercises the rewriters' and
    * analyzer's handling of nested set-op scopes. */
  private def qUnionInSub(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val item = s"${t.name}.${t.key} AS k, CAST(${intExpr(r, t, 1)} " +
      s"AS BIGINT) AS c0"
    val u = pick(r, Seq("UNION", "UNION ALL"))
    val body = s"SELECT $item FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"$u SELECT $item FROM ${t.name} WHERE ${pred(r, t, 0)}"
    r.nextInt(2) match {
      case 0 => s"SELECT CAST(k % ${r.nextInt(7) + 3} AS BIGINT) AS g, " +
        s"CAST(count(*) AS BIGINT) AS cnt, min(c0) AS m " +
        s"FROM ($body) u GROUP BY 1"
      case _ => s"WITH u AS ($body) SELECT DISTINCT " +
        s"CAST(k % ${r.nextInt(5) + 2} AS BIGINT) AS g, c0 FROM u"
    }
  }

  /** LATERAL joins — both engines speak `FROM t, LATERAL (subquery)`:
    * a computed single-row lateral (the common "reuse an expression"
    * idiom) and an explode-like multi-row correlated lateral over a
    * referential edge (each parent row fans out to its children). */
  private def qLateral(r: scala.util.Random): String = {
    if (r.nextBoolean()) {
      val t = pick(r, tabs)
      s"SELECT ${t.name}.${t.key} AS k, lat.lx AS lx, lat.ly AS ly " +
        s"FROM ${t.name}, LATERAL (SELECT CAST(${intExpr(r, t, 1)} " +
        s"AS BIGINT) AS lx, ${strExpr(r, t, 1)} AS ly) lat " +
        s"WHERE ${pred(r, t, 0)}"
    } else {
      val (ct, fk, pt, pk) = pick(r, fks)
      val child = tabs.find(_.name == ct).get
      val parent = tabs.find(_.name == pt).get
      s"SELECT ${parent.name}.$pk AS k, lat.lk AS lk, lat.c0 AS c0 " +
        s"FROM ${parent.name}, LATERAL (SELECT " +
        s"${child.name}.${child.key} AS lk, CAST(${intExpr(r, child, 0)} " +
        s"AS BIGINT) AS c0 FROM ${child.name} " +
        s"WHERE ${child.name}.$fk = ${parent.name}.$pk " +
        s"AND ${pred(r, child, 1)}) lat " +
        s"WHERE ${pred(r, parent, 1)}"
    }
  }

  /** INTERSECT / EXCEPT [ALL] hidden inside a CTE body or a derived
    * table (r13 verdict task 7 — [[qUnionInSub]] nests only UNION), and
    * the set-op + trailing-QUALIFY shape: the QUALIFY binds to the LAST
    * branch (DuckDB, measured — the r14 rewriter fix). rank() only in
    * that arm: ties pass or fail together, so the filtered set stays
    * value-determined on dup-row tables. */
  private def qSetOpInSub(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val op = pick(r, Seq("INTERSECT", "EXCEPT", "INTERSECT ALL",
      "EXCEPT ALL"))
    val items =
      if (r.nextBoolean()) s"${t.name}.${t.key} AS k, ${scalarExpr(r, t)} AS c0"
      else s"${strExpr(r, t, 1)} AS k, CAST(${intExpr(r, t, 1)} % 13 " +
        s"AS BIGINT) AS c0"
    val body = s"SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"$op SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)}"
    r.nextInt(3) match {
      case 0 => s"WITH w AS ($body) SELECT CAST(count(*) AS BIGINT) " +
        s"AS cnt, min(c0) AS m, max(k) AS mk FROM w"
      case 1 => s"SELECT CAST(count(*) AS BIGINT) AS cnt, max(c0) AS m " +
        s"FROM ($body) u"
      case _ =>
        val rfn = s"rank() OVER (ORDER BY ${intExpr(r, t, 0)}, " +
          s"${t.name}.${t.key})"
        s"SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)} " +
          s"UNION ALL SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)} " +
          s"QUALIFY $rfn <= ${r.nextInt(4) + 1}"
    }
  }

  /** GROUP BY ALL (both engines: group by every non-aggregated select
    * item) — the grouping list is implicit, so a rewriter/analyzer slip
    * that reorders or injects select items would silently change it. */
  private def qGroupByAll(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    s"SELECT ${strExpr(r, t, 1)} AS g0, " +
      s"CAST(${intExpr(r, t, 1)} % ${r.nextInt(7) + 2} AS BIGINT) AS g1, " +
      s"CAST(count(*) AS BIGINT) AS cnt, ${aggExpr(r, t)} AS a0 " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)} GROUP BY ALL"
  }

  /** Inline VALUES table joined against a fixture — both engines take
    * `(VALUES ...) AS v(cols)` as a FROM relation. */
  private def qValuesJoin(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val m = r.nextInt(3) + 3
    val vals = (0 until m).map(i =>
      s"($i, '${pick(r, strLitPool)}')").mkString(", ")
    s"SELECT v.a AS a, v.b AS b, CAST(count(*) AS BIGINT) AS cnt, " +
      s"min(${t.name}.${t.key}) AS mk " +
      s"FROM ${t.name} JOIN (VALUES $vals) AS v(a, b) " +
      s"ON ${intExpr(r, t, 0)} % $m = v.a " +
      s"WHERE ${pred(r, t, 0)} GROUP BY 1, 2"
  }

  /** Set-op whose LAST branch composes BOTH r14 dialect corners in ONE
    * body: a DISTINCT select carrying an INLINE QUALIFY window (QUALIFY
    * evaluates BEFORE DISTINCT; after a set operation it binds to the
    * LAST branch only — both measured DuckDB semantics, r14). The two
    * rewriter paths were closed separately; this exercises their
    * composition (r14 verdict task 4). rank/dense_rank only: ties pass
    * or fail together, so the branch set stays value-determined under
    * DISTINCT even on dup-row tables. */
  private def qSetOpDistinctQualify(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val g = s"(${t.name}.${pick(r, t.of('i')).name} % ${r.nextInt(7) + 2})"
    val items = s"CAST($g AS BIGINT) AS g, " +
      s"CAST(${intExpr(r, t, 1)} % ${r.nextInt(5) + 2} AS BIGINT) AS c0"
    val op = pick(r, Seq("UNION ALL", "UNION", "INTERSECT", "EXCEPT"))
    val rfn = (if (r.nextBoolean()) "rank" else "dense_rank") +
      s"() OVER (PARTITION BY $g ORDER BY ${intExpr(r, t, 0)}, " +
      s"${t.name}.${t.key})"
    s"SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"$op SELECT DISTINCT $items FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"QUALIFY $rfn <= ${r.nextInt(3) + 1}"
  }

  /** Windowed AGGREGATES (`sum(x) OVER (...)` and kin) as set-op branch
    * select items and inside the trailing QUALIFY condition — they
    * stress the rewriters' paren/OVER scanning differently than
    * `row_number()`: an argument expression with nested parens and
    * commas inside OVER, and a function name that also exists as a
    * plain aggregate (r14 verdict task 8). Default RANGE running
    * windows ordered by a possibly-tied key are peer-inclusive, hence
    * value-determined on dup-row tables; explicit ROWS frames draw only
    * unique-key tables (the lineitem tie trap). */
  private def qWindowAggSetOp(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val g = s"(${t.name}.${pick(r, t.of('i')).name} % ${r.nextInt(5) + 2})"
    def wAgg(): String = {
      val fn = pick(r, Seq("sum", "min", "max", "count"))
      val arg = intExpr(r, t, 1)
      if (t.uniqueKey && r.nextBoolean())
        s"$fn($arg) OVER (PARTITION BY $g ORDER BY ${t.name}.${t.key} " +
          s"ROWS BETWEEN ${r.nextInt(3) + 1} PRECEDING AND CURRENT ROW)"
      else
        s"$fn($arg) OVER (PARTITION BY $g ORDER BY ${t.name}.${t.key})"
    }
    val items = s"${t.name}.${t.key} AS k, CAST($g AS BIGINT) AS g, " +
      s"CAST(${wAgg()} AS BIGINT) AS w"
    val base = s"SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"UNION ALL SELECT $items FROM ${t.name} WHERE ${pred(r, t, 0)}"
    if (r.nextBoolean()) base
    else base + s" QUALIFY ${wAgg()} % ${r.nextInt(7) + 2} = 0"
  }

  /** GROUPING SETS under a TOTAL ORDER BY + LIMIT — the result-order
    * corner: subtotal rows' NULL group keys interleave with data rows
    * under the engines' DIFFERENT null-ordering defaults (Spark ASC =
    * NULLS FIRST, DuckDB = NULLS LAST), so every sort key pins NULLS
    * explicitly; (gid, g0, g1) totally orders the result, which makes
    * the LIMIT'd row SET deterministic (r14 verdict task 8). */
  private def qGroupingSetsOrdered(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val g0 = s"(${t.name}.${pick(r, t.of('i')).name} % ${r.nextInt(5) + 2})"
    val g1 = strExpr(r, t, 1)
    val nf = if (r.nextBoolean()) "NULLS FIRST" else "NULLS LAST"
    val dir = if (r.nextBoolean()) "ASC" else "DESC"
    s"SELECT CAST($g0 AS BIGINT) AS g0, $g1 AS g1, " +
      s"CAST(count(*) AS BIGINT) AS cnt, " +
      s"CAST(grouping_id($g0, $g1) AS BIGINT) AS gid " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"GROUP BY GROUPING SETS (($g0, $g1), ($g0), ()) " +
      s"ORDER BY gid $dir $nf, g0 $dir $nf, g1 $dir $nf " +
      s"LIMIT ${r.nextInt(20) + 5}"
  }

  /** The full seeded batch — pure function of (n, seed), so a recorded
    * run is reproducible bit-for-bit and the spec can pin determinism. */
  def genQueries(n: Int, seed: Long): Seq[(String, String)] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val sql = r.nextInt(39) match {
        case 0 | 1 => qFilterProject(r)
        case 2 | 3 => qGroupAgg(r)
        case 4 | 5 => qJoin(r)
        case 6     => qWindowQualify(r)
        case 7     => qStarModifier(r)
        case 8     => qDistinct(r)
        case 9     => qInSubquery(r)
        case 10    => qLeftJoin(r)
        case 11    => qUnionAll(r)
        case 12    => qRollup(r)
        case 13    => qExists(r)
        case 14    => qCte(r)
        case 15    => qOrderLimit(r)
        case 16    => qUnicode(r)
        case 17    => qDecimal(r)
        case 18    => qSetOp(r)
        case 19    => qScalarSub(r)
        case 20    => qNullsOrder(r)
        case 21    => qGroupingHaving(r)
        case 22    => qWindowFrames(r)
        case 23    => qWindowOverGrouped(r)
        case 24    => qGroupingSetsExplicit(r)
        case 25    => qNullAwareIn(r)
        case 26    => qExistenceJoin(r)
        case 27    => qFullOuter(r)
        case 28    => qHavingNoGroup(r)
        case 29    => qOrderByExpr(r)
        case 30    => qScalarSubOverGrouped(r)
        case 31    => qUnionInSub(r)
        case 32    => qLateral(r)
        case 33    => qGroupByAll(r)
        case 34    => qValuesJoin(r)
        case 35    => qSetOpInSub(r)
        case 36    => qSetOpDistinctQualify(r)
        case 37    => qWindowAggSetOp(r)
        case _     => qGroupingSetsOrdered(r)
      }
      (f"fz$i%03d", sql)
    }
  }

  // ---- QueryService-path fuzz (r12 verdict task 1) -----------------------
  //
  // The plain mode above executes `spark.sql` + the analyzed-stage
  // grouping-sets rewrite directly. A real user's SQL traverses MORE:
  // QueryGuard → QualifyRewriter → StarRewriter → NameRewriter (three-part
  // `domain.layer.table` names) → 10k truncation — string-level rewriters,
  // which is exactly where silent result-changing bugs live (keywords
  // inside literals, nested QUALIFY, three-part names in odd positions).
  // Service mode registers the fixture tables under `fuzz.silver.<t>`,
  // rewrites every generated query's RELATION references to those
  // three-part names, and runs it through QueryService itself; the oracle
  // JSON keeps the PLAIN text, which DuckDB executes natively.

  private val relRef =
    ("(?i)\\b(FROM|JOIN)\\s+(" + tabs.map(_.name).mkString("|") + ")\\b").r

  /** Relation references → `fuzz.silver.<table>` (column qualifiers stay
    * table-named, which Spark resolves against the catalog relation). */
  def toServiceNames(sql: String): String =
    relRef.replaceAllIn(sql, m => scala.util.matching.Regex.quoteReplacement(
      s"${m.group(1)} fuzz.silver.${m.group(2).toLowerCase}"))

  /** Literals whose CONTENT is rewriter bait: QUALIFY/EXCLUDE keywords,
    * three-part names (including the exact registered ones), ORDER/LIMIT
    * — all inside quotes, where every rewriter must leave them alone.
    * (Guard-blocked keywords like `replace` stay out: the reference's
    * text guard rejects them anywhere, literals included — faithful.) */
  private val baitLits = Seq(
    "qualify rn = 1",
    "* exclude (x) from y",
    " fuzz.silver.lineitem",
    "x.silver.y join z",
    "order by 1 limit 5",
    "with w as (select 1)")

  private def qSvcKeywordLiterals(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val l1 = pick(r, baitLits); val l2 = pick(r, baitLits)
    s"SELECT ${t.name}.${t.key} AS k, '$l1' AS lit1, " +
      s"('$l2' || ${strExpr(r, t, 0)}) AS lit2, ${scalarExpr(r, t)} AS c0 " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)} AND '$l1' <> ''"
  }

  /** QUALIFY nested in a CTE body or FROM-subquery (plus literals) —
    * DuckDB takes these natively; the rewriter must find them at depth. */
  private def qSvcNestedQualify(r: scala.util.Random): String = {
    val t = pick(r, tabs.filter(x => x.uniqueKey && x.of('i').size >= 2))
    val g = s"(${t.name}.${pick(r, t.of('i')).name} % ${r.nextInt(5) + 2})"
    val inner = s"SELECT ${t.name}.${t.key} AS k, CAST($g AS BIGINT) AS g, " +
      s"CAST(row_number() OVER (PARTITION BY $g " +
      s"ORDER BY ${t.name}.${t.key}) AS BIGINT) AS rn " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"QUALIFY rn <= ${r.nextInt(3) + 1}"
    // inline-window form: no alias, the window lives in the condition
    val innerInline = s"SELECT ${t.name}.${t.key} AS k, " +
      s"CAST($g AS BIGINT) AS g " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)} " +
      s"QUALIFY rank() OVER (PARTITION BY $g " +
      s"ORDER BY ${t.name}.${t.key}) <= ${r.nextInt(3) + 1}"
    r.nextInt(3) match {
      case 0 => s"WITH w AS ($inner) SELECT g, CAST(count(*) AS BIGINT) " +
        s"AS cnt, min(k) AS mk FROM w GROUP BY 1"
      case 1 => s"WITH w AS ($innerInline) SELECT g, " +
        s"CAST(count(*) AS BIGINT) AS cnt, min(k) AS mk FROM w GROUP BY 1"
      case _ => s"SELECT x.k AS k, x.g AS g, '${pick(r, baitLits)}' AS lit " +
        s"FROM ($inner) x WHERE x.rn = 1"
    }
  }

  /** Star modifiers at subquery depth with an outer consumer. */
  private def qSvcStarDeep(r: scala.util.Random): String = {
    val t = pick(r, tabs)
    val ts = t.of('t').map(_.name)
    val ex = (r.shuffle(t.cols.filter(c => c.name != t.key && c.kind != 't'))
      .take(r.nextInt(2) + 1).map(_.name) ++ ts).distinct
    val sc = t.of('s').filter(s => !ex.contains(s.name))
    val rep =
      if (sc.nonEmpty && r.nextBoolean()) {
        val col = pick(r, sc).name
        s" REPLACE (upper($col) AS $col)"
      } else ""
    s"SELECT s.* FROM (SELECT * EXCLUDE (${ex.mkString(", ")})$rep " +
      s"FROM ${t.name} WHERE ${pred(r, t, 0)}) s " +
      s"WHERE s.${t.key} % ${r.nextInt(4) + 2} <> 1"
  }

  /** Aliased three-part relations: after the name rewrite the ALIAS is
    * the only valid qualifier — a different resolution path from the
    * table-name-qualified templates. */
  private def qSvcAliasJoin(r: scala.util.Random): String = {
    val (lt, fk, rt, pk) = pick(r, fks)
    val l = tabs.find(_.name == lt).get
    val rr = tabs.find(_.name == rt).get
    val li = pick(r, l.of('i')).name
    val ri = pick(r, rr.of('i')).name
    s"SELECT a.${l.key} AS k0, b.${rr.key} AS k1, " +
      s"CAST(a.$li % 13 AS BIGINT) AS c0, " +
      s"CAST(b.$ri % 7 AS BIGINT) AS c1 " +
      s"FROM ${l.name} a JOIN ${rr.name} b ON a.$fk = b.$pk " +
      s"WHERE a.${pick(r, l.of('i')).name} % ${r.nextInt(5) + 2} = 0"
  }

  /** The service-only batch: rewriter-stressing shapes, seeded like
    * [[genQueries]] (distinct stream so the two batches don't overlap). */
  def genServiceExtras(n: Int, seed: Long): Seq[(String, String)] = {
    val r = new scala.util.Random(seed * 31 + 7)
    (0 until n).map { i =>
      val sql = r.nextInt(4) match {
        case 0 => qSvcKeywordLiterals(r)
        case 1 => qSvcNestedQualify(r)
        case 2 => qSvcStarDeep(r)
        case _ => qSvcAliasJoin(r)
      }
      (f"fs$i%03d", sql)
    }
  }

  /** Duplicate output aliases (verdict 7): legal in both engines' SELECT
    * lists but unwritable as parquet, so they are asserted through
    * QueryService.run alone (columns + row count), not value-compared. */
  private[graft] val dupAliasProbes = Seq(
    ("dup0", "SELECT r_regionkey AS c, r_regionkey AS c FROM " +
      "fuzz.silver.region", 5L, Seq("c", "c")),
    ("dup1", "SELECT n_nationkey AS x, n_name AS x, " +
      "CAST(n_regionkey AS BIGINT) AS g FROM fuzz.silver.nation " +
      "WHERE n_nationkey < 10", 10L, Seq("x", "x", "g")))

  /** Backslash-escape adversarial probes (r13 verdict task 3): Spark's
    * default lexer reads `\'` as an escaped quote; DuckDB does NOT
    * speak backslash escapes, so the differential dump can never cover
    * these — they are service-run VALUE assertions instead. Every
    * rewriter (guard, QUALIFY, star, names, truncation) must pass the
    * literal through byte-identically; the expected value is what
    * Spark's lexer yields. */
  private[graft] val escapeProbes: Seq[(String, String, String)] = Seq(
    ("esc0", """SELECT 'it\'s fuzz.silver.region' AS s """ +
      "FROM fuzz.silver.region WHERE r_regionkey = 0",
      "it's fuzz.silver.region"),
    ("esc1", """SELECT 'p\'q qualify rn = 1' AS s """ +
      "FROM fuzz.silver.region WHERE r_regionkey = 0",
      "p'q qualify rn = 1"),
    ("esc2", """SELECT 'a\\' AS s """ +
      "FROM fuzz.silver.region WHERE r_regionkey = 0",
      """a\"""),
    ("esc3", """SELECT 'x\'y * exclude (b) order by 1' AS s """ +
      "FROM fuzz.silver.region WHERE r_regionkey = 0",
      "x'y * exclude (b) order by 1"),
    ("esc4", """SELECT 'w\'z' AS s, r_regionkey AS k """ +
      "FROM fuzz.silver.region QUALIFY row_number() OVER " +
      "(ORDER BY r_regionkey) = 1",
      "w'z"))

  /** Usage: FuzzSql <sfDir> <outDir> [n=300] [seed=20260815]
    * [mode=plain|service]. Service mode (r12 verdict task 1) drives the
    * FULL QueryService path with `fuzz.silver.<t>` three-part names. */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 300
    val seed = if (args.length > 3) args(3).toLong else 20260815L
    val mode = if (args.length > 4) args(4) else "plain"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.core.Sessions.get(cpus)
    spark.sparkContext.setLogLevel("WARN")
    tabs.foreach(t => graft.sources.Tables.load(spark, sfDir, t.name)
      .createOrReplaceTempView(t.name))
    new java.io.File(outDir).mkdirs()
    var bad = 0
    val qs =
      if (mode == "service") genQueries(n, seed) ++
        genServiceExtras(math.max(n / 3, 60), seed)
      else genQueries(n, seed)
    if (mode == "service") {
      // a real lake: normalized parquet registered as fuzz.silver.<t>
      val root = java.nio.file.Files
        .createTempDirectory("fuzz-lake-").toString
      val lake = new graft.Lake(spark, root)
      tabs.foreach { t =>
        val p = s"$root/silver/fuzz/${t.name}"
        graft.sources.Tables.load(spark, sfDir, t.name)
          .write.mode("overwrite").parquet(p)
        lake.registerTable("fuzz", "silver", t.name, p)
      }
      val svc = lake.query
      qs.foreach { case (name, sql) =>
        val svcSql = toServiceNames(sql)
        svc.run(svcSql) match {
          case Left(err) =>
            System.err.println(s"[fuzz] $name SERVICE-REJECTED: $err\n  $svcSql")
            bad += 1
          case Right(res) => try {
            // the value-compare dump goes through the SAME rewrite chain
            // (dataFrame is run()'s plan, minus the take)
            svc.dataFrame(svcSql).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            val full = spark.read.parquet(s"$outDir/$name").count()
            val wantRows = math.min(full, svc.MaxResultRows.toLong)
            if (res.rowCount.toLong != wantRows ||
                res.truncated != (full > svc.MaxResultRows)) {
              System.err.println(s"[fuzz] $name TRUNCATION-CONTRACT: " +
                s"rowCount=${res.rowCount} truncated=${res.truncated} " +
                s"fullRows=$full\n  $svcSql")
              bad += 1
            }
          } catch { case e: Throwable =>
            System.err.println(s"[fuzz] $name FAILED: ${e.getMessage}\n  $svcSql")
            bad += 1
          }
        }
      }
      // duplicate output aliases: service-run assertions (no dump)
      dupAliasProbes.foreach { case (name, sql, wantRows, wantCols) =>
        svc.run(sql) match {
          case Right(res)
            if res.columns == wantCols && res.rowCount.toLong == wantRows =>
          case other =>
            System.err.println(s"[fuzz] $name DUP-ALIAS: got $other\n  $sql")
            bad += 1
        }
      }
      // backslash escapes: the literal's VALUE must survive the chain
      escapeProbes.foreach { case (name, sql, want) =>
        svc.run(sql) match {
          case Right(res) if res.rows.nonEmpty &&
            res.rows.head.headOption.contains(want) =>
          case other =>
            System.err.println(
              s"[fuzz] $name ESCAPE-PROBE: want '$want', got $other\n  $sql")
            bad += 1
        }
      }
    } else qs.foreach { case (name, sql) =>
      // the product pipeline: QUALIFY → star modifiers → guard → Catalyst
      val sql2 = graft.query.StarRewriter.rewrite(
        graft.query.QualifyRewriter.rewrite(sql))
      val verdict = graft.query.QueryGuard.validate(spark, sql2)
      if (!verdict.ok) {
        System.err.println(s"[fuzz] $name REJECTED: ${verdict.reason}\n  $sql")
        bad += 1
      } else try {
        // same analyzed-stage rewrite QueryService.dataFrame applies
        graft.plans.EmptyGroupingSetsRule.applyAnalyzed(spark.sql(sql2))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[fuzz] $name FAILED: ${e.getMessage}\n  $sql")
        bad += 1
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""
    val json = qs.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[fuzz] ${qs.length - bad}/${qs.length} executed, $bad failed; " +
      s"compare with: python3 scripts/local_check.py $sfDir $outDir")
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
