package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.gold.GoldJob

/** End-to-end engine tests: ingest → bronze → silver (dedup/upsert/schema
  * evolution) → gold jobs → query API (SURVEY §3.1-§3.3). */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def newLake(): Lake = {
    val root = Files.createTempDirectory("graft-test-").toString
    new Lake(spark, root)
  }

  private val ordersSchema = EndpointSchema("orders", "sales", 1,
    SchemaMode.Manual, SchemaDefinition(Seq(
      ColumnDefinition("order_id", RefType.IntegerT, required = true, primaryKey = true),
      ColumnDefinition("customer_id", RefType.IntegerT, required = true),
      ColumnDefinition("total_amount", RefType.DoubleT, required = true),
      ColumnDefinition("status", RefType.StringT),
      ColumnDefinition("created_at", RefType.TimestampT))))

  test("ingest → silver: validation, metadata, schema cast, registration") {
    val lake = newLake()
    lake.registry.create(ordersSchema)
    val res = lake.ingest.ingest("sales", "orders", Seq(
      """{"order_id": 1, "customer_id": 10, "total_amount": 99.5, "status": "new", "created_at": "2024-01-15T10:30:00"}""",
      """{"order_id": "2", "customer_id": "11", "total_amount": "5.25"}"""))
    assert(res.accepted == 2)
    lake.ingest.flushAll()
    val df = lake.silver.processEndpoint("sales", "orders").get
    assert(df.count() == 2)
    assert(df.schema("created_at").dataType.typeName == "timestamp")
    assert(df.schema("order_id").dataType.typeName == "integer")
    assert(!df.columns.contains("_insert_date")) // metadata stripped
    assert(lake.registry.listSilver("sales") == Seq("orders"))
    assert(spark.catalog.tableExists("sales_silver.orders"))
  }

  test("within-batch dedup keeps EARLIEST _insert_date per PK (W1)") {
    val lake = newLake()
    lake.registry.create(ordersSchema)
    lake.ingest.ingest("sales", "orders", Seq(
      """{"order_id": 1, "customer_id": 1, "total_amount": 1.0, "status": "first"}""",
      """{"order_id": 1, "customer_id": 1, "total_amount": 2.0, "status": "second"}"""))
    lake.ingest.flushAll()
    val df = lake.silver.processEndpoint("sales", "orders").get
    assert(df.count() == 1)
    assert(df.select("status").head().getString(0) == "first") // earliest wins
  }

  test("cross-batch upsert makes the LATEST batch win (J3)") {
    val lake = newLake()
    lake.registry.create(ordersSchema)
    lake.ingest.ingest("sales", "orders",
      Seq("""{"order_id": 1, "customer_id": 1, "total_amount": 1.0, "status": "old"}"""))
    lake.ingest.flushAll()
    lake.silver.processEndpoint("sales", "orders")
    lake.ingest.ingest("sales", "orders", Seq(
      """{"order_id": 1, "customer_id": 1, "total_amount": 9.0, "status": "new"}""",
      """{"order_id": 2, "customer_id": 2, "total_amount": 3.0}"""))
    lake.ingest.flushAll()
    val df = lake.silver.processEndpoint("sales", "orders").get
    assert(df.count() == 2)
    assert(df.filter("order_id = 1").select("status").head().getString(0) == "new")
  }

  test("schema evolution: new column appears, old rows null (union by name)") {
    val lake = newLake()
    val v1 = lake.registry.create(ordersSchema)
    lake.ingest.ingest("sales", "orders",
      Seq("""{"order_id": 1, "customer_id": 1, "total_amount": 1.0}"""))
    lake.ingest.flushAll()
    lake.silver.processEndpoint("sales", "orders")
    // evolve: add a column (registry v2), ingest a row using it
    lake.registry.update(v1.copy(schema = SchemaDefinition(
      v1.schema.columns :+ ColumnDefinition("channel", RefType.StringT))))
    lake.ingest.ingest("sales", "orders",
      Seq("""{"order_id": 2, "customer_id": 2, "total_amount": 2.0, "channel": "web"}"""))
    lake.ingest.flushAll()
    val df = lake.silver.processEndpoint("sales", "orders").get
    assert(df.columns.contains("channel"))
    assert(df.filter("order_id = 1").select("channel").head().isNullAt(0))
    assert(df.filter("order_id = 2").select("channel").head().getString(0) == "web")
  }

  test("strict mode rejects with per-field errors (main.py:204-219)") {
    val lake = newLake()
    lake.registry.create(ordersSchema)
    val res = lake.ingest.ingest("sales", "orders",
      Seq("""{"order_id": "bad"}"""), strict = true)
    assert(res.accepted == 0 && res.rejected == 1)
    assert(res.errors.head._2.map(_.field).toSet == Set("order_id", "customer_id", "total_amount"))
  }

  test("gold jobs: overwrite/append/upsert + dependency ordering + status") {
    val lake = newLake()
    lake.registry.create(ordersSchema)
    lake.ingest.ingest("sales", "orders", Seq(
      """{"order_id": 1, "customer_id": 1, "total_amount": 10.0, "status": "paid"}""",
      """{"order_id": 2, "customer_id": 1, "total_amount": 5.0, "status": "open"}""",
      """{"order_id": 3, "customer_id": 2, "total_amount": 7.5, "status": "paid"}"""))
    lake.ingest.flushAll()
    lake.silver.processEndpoint("sales", "orders")

    val byCust = GoldJob("sales", "by_customer",
      "SELECT customer_id, SUM(total_amount) AS revenue FROM sales.silver.orders GROUP BY customer_id",
      writeMode = "upsert", uniqueKey = Seq("customer_id"))
    val top = GoldJob("sales", "top_customer",
      "SELECT customer_id, revenue FROM sales.gold.by_customer ORDER BY revenue DESC LIMIT 1",
      scheduleType = "dependency", cronSchedule = None,
      dependencies = Seq("by_customer"))
    lake.registry.saveGoldJob(byCust)
    lake.registry.saveGoldJob(top)

    // dependency job must run AFTER its upstream, in one scheduled pass
    val results = lake.gold.runScheduled("sales", "daily")
    assert(results.map(_.job.jobName) == Seq("by_customer", "top_customer"))
    val topRow = spark.table("sales_gold.top_customer").head()
    assert(topRow.getAs[Int]("customer_id") == 1)
    assert(topRow.getAs[Double]("revenue") == 15.0)

    // upsert write mode: re-run after new data updates keys in place
    lake.ingest.ingest("sales", "orders",
      Seq("""{"order_id": 4, "customer_id": 2, "total_amount": 100.0}"""))
    lake.ingest.flushAll()
    lake.silver.processEndpoint("sales", "orders")
    lake.gold.runJob(byCust)
    spark.catalog.refreshTable("sales_gold.by_customer")
    val c2 = spark.table("sales_gold.by_customer")
      .filter("customer_id = 2").head().getAs[Double]("revenue")
    assert(c2 == 107.5)

    // status file written
    val status = java.nio.file.Paths.get(lake.root, "registry", "schemas",
      "sales", "gold", "by_customer", "last_execution.yaml")
    assert(Files.readString(status).contains("status: success"))
  }

  test("maintenance loop e2e: ingest → compact → vacuum → query; " +
      "small-file count drops, results unchanged") {
    import java.nio.file.{Files => JFiles, Paths}
    val lake = newLake()
    // schema WITHOUT primary keys -> silver is a plain append sink, the
    // layout that accumulates one small file batch after batch
    lake.registry.create(EndpointSchema("events", "sales", 1,
      SchemaMode.Manual, SchemaDefinition(Seq(
        ColumnDefinition("event_id", RefType.IntegerT, required = true),
        ColumnDefinition("value", RefType.DoubleT, required = true)))))
    (1 to 6).foreach { b =>
      lake.ingest.ingest("sales", "events", (1 to 10).map(i =>
        s"""{"event_id": ${b * 100 + i}, "value": $i.5}"""))
      lake.ingest.flushAll()
      lake.silver.processEndpoint("sales", "events")
    }
    val silverDir = lake.silverPath("sales", "events")
    val sql = "SELECT COUNT(*) AS n, SUM(value) AS s, MIN(event_id) AS lo," +
      " MAX(event_id) AS hi FROM sales.silver.events"
    val before = lake.query.run(sql).toOption.get.rows

    def files = graft.core.Fs.children(Paths.get(silverDir))
      .count(_.getFileName.toString.endsWith(".parquet"))
    val fragmented = files
    assert(fragmented >= 6,
      s"append sink should have accumulated per-batch files, saw $fragmented")

    // OPTIMIZE: rewrite into right-sized files, atomic swap
    val (was, now) = graft.sources.Compaction.compactTable(spark, silverDir)
    assert(was == fragmented && now == 1,
      s"60 rows must compact to ONE file, got $was -> $now")

    // vacuum: the maintenance pass leaves no swap debris next to the
    // table and clears orphaned cache compactions past retention
    val parent = Paths.get(silverDir).getParent
    assert(!graft.core.Fs.children(parent).exists(p =>
      p.getFileName.toString.contains(".old-")
        || p.getFileName.toString.contains(".tmp-")),
      "compaction swap left .old/.tmp debris")
    graft.sources.Compaction.vacuum(Nil, retentionMs = 0)

    // results byte-identical through the whole loop
    val after = lake.query.run(sql).toOption.get.rows
    assert(after == before,
      s"maintenance loop changed query results: $before -> $after")
    assert(spark.read.parquet(silverDir).count() == 60)
  }

  test("query API: rewrite + truncation flag + guard + friendly errors") {
    val lake = newLake()
    lake.registry.create(ordersSchema)
    val recs = (1 to 50).map(i =>
      s"""{"order_id": $i, "customer_id": ${i % 5}, "total_amount": $i.0}""")
    lake.ingest.ingest("sales", "orders", recs)
    lake.ingest.flushAll()
    lake.silver.processEndpoint("sales", "orders")

    val ok = lake.query.run("SELECT order_id FROM sales.silver.orders ORDER BY order_id")
    assert(ok.toOption.get.rowCount == 50)
    assert(!ok.toOption.get.truncated)

    // bronze layer directly queryable (S1)
    val bronze = lake.query.run(
      "SELECT COUNT(*) AS n FROM sales.bronze.orders")
    assert(bronze.toOption.get.rows.head.head == 50L)

    assert(lake.query.run("DROP TABLE sales_silver.orders").isLeft)
    assert(lake.query.run("INSERT INTO x VALUES (1)").isLeft)

    val err = lake.query.run("SELECT * FROM sales.silver.nope")
    assert(err.isLeft)
    assert(err.swap.toOption.get.contains("Table does not exist"))

    // catalog listing (C6)
    val tables = lake.catalog.listTables("sales")
    assert(tables.exists(t => t.layer == "silver" && t.table == "orders"))
    assert(tables.find(_.table == "orders").get.columns
      .exists(_._1 == "order_id"))

    // one-pass sketch profile (catalog/chat surface)
    val (nRows, cols) = lake.catalog.profile("sales", "silver", "orders")
    assert(nRows == 50L)
    val custProf = cols.find(_.column == "customer_id").get
    assert(custProf.nulls == 0L)
    // HLL at default precision is exact at this cardinality
    assert(custProf.approxDistinct == 5L)
    assert(custProf.min.contains("0") && custProf.max.contains("4"))

    // top values via the Misra–Gries sketch (chart/chat surface):
    // customer_id = i % 5 over 1..50 → each of 0..4 appears exactly 10
    // times; a 4k-provisioned sketch holds all 5 exactly, counts exact
    val top = lake.catalog.topValues("sales", "silver", "orders",
      "customer_id", k = 3)
    assert(top.length == 3)
    assert(top.forall(_._2 == 10L),
      s"expected exact counts of 10, got $top")
    assert(top.map(_._1) == top.map(_._1).sorted,
      "equal counts must tie-break by value ascending")

    // point-query face: CountMin estimates for chosen values — exact
    // here (4096-wide sketch, 5 distinct values → no collisions), and
    // an absent probe reports 0
    val freqs = lake.catalog.valueFrequencies("sales", "silver", "orders",
      "customer_id", Seq("0", "3", "no_such_value")).toMap
    assert(freqs("0") == 10L && freqs("3") == 10L)
    assert(freqs("no_such_value") == 0L)
  }

  test("concurrent query surface: parallel mixed-layer queries are " +
      "isolated (the reference API's 50 req/s shape)") {
    val lake = newLake()
    lake.registry.create(ordersSchema)
    val recs = (1 to 50).map(i =>
      s"""{"order_id": $i, "customer_id": ${i % 5}, "total_amount": $i.0}""")
    lake.ingest.ingest("sales", "orders", recs)
    lake.ingest.flushAll()
    lake.silver.processEndpoint("sales", "orders")
    // second silver table big enough to trip the truncation flag
    import spark.implicits._
    val path = lake.silverPath("big", "nums")
    (1 to 10500).toDF("n").write.parquet(path)
    lake.registry.registerSilver("big", "nums", path)
    lake.registerTable("big", "silver", "nums", path)

    // mixed workload: silver scan, bronze temp-view scan, truncation,
    // dialect rewrite (QUALIFY), guard rejection, friendly error — each
    // asserts ITS OWN invariant, so any cross-talk (truncation flag on
    // the wrong result, a guard verdict leaking, a bronze temp view
    // clobbered mid-flight) fails the owning task
    val checks: Seq[() => Unit] = Seq(
      () => {
        val r = lake.query.run(
          "SELECT order_id FROM sales.silver.orders ORDER BY order_id")
          .toOption.get
        assert(r.rowCount == 50 && !r.truncated)
        assert(r.rows.head.head == 1)
      },
      () => {
        val r = lake.query.run(
          "SELECT COUNT(*) AS n FROM sales.bronze.orders").toOption.get
        assert(r.rows.head.head == 50L)
      },
      () => {
        val r = lake.query.run("SELECT n FROM big.silver.nums").toOption.get
        assert(r.truncated && r.rowCount == 10000)
      },
      () => {
        val r = lake.query.run("SELECT order_id, ROW_NUMBER() OVER " +
          "(ORDER BY order_id) AS rn FROM sales.silver.orders QUALIFY rn <= 3")
          .toOption.get
        assert(r.rowCount == 3 && !r.truncated)
      },
      () => assert(lake.query.run("DROP TABLE sales_silver.orders").isLeft),
      () => {
        val e = lake.query.run("SELECT * FROM sales.silver.nope")
        assert(e.swap.toOption.get.contains("does not exist"))
      })

    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val all = scala.concurrent.Future.sequence(
        (0 until 48).map(i => scala.concurrent.Future {
          checks(i % checks.length)() }))
      scala.concurrent.Await.result(all,
        scala.concurrent.duration.Duration(180, "s"))
    } finally pool.shutdown()
  }

  test("withQueryConfsCloned scopes per-query confs to the clone") {
    // q141 declares adaptive.enabled=false; the cloned-session variant
    // must leave the PARENT session's conf untouched (the cross-talk
    // hazard the sequential-only guard on withQueryConfs documents)
    val parentAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val df = SparkEntry.withQueryConfsCloned(spark, "q141_overlap_join",
      "/root/testdata/sf0.001")
    assert(df.sparkSession ne spark, "conf-bearing query must get a clone")
    assert(df.sparkSession.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == parentAqe)
    assert(df.count() > 0)
    // conf-free queries run on the parent session directly (no clone
    // churn on the common path)
    val confFree = SparkEntry.allDefs.collectFirst {
      case (k, d) if d.confs.isEmpty => k }.get
    val plain = SparkEntry.withQueryConfsCloned(spark, confFree,
      "/root/testdata/sf0.001")
    assert(plain.sparkSession eq spark)
  }

  test("truncation at 10k rows sets the flag (L1)") {
    val lake = newLake()
    // register a big silver table directly (avoid 10k-record ingest loop)
    import spark.implicits._
    val df = (1 to 10500).toDF("n")
    val path = lake.silverPath("big", "nums")
    df.write.parquet(path)
    lake.registry.registerSilver("big", "nums", path)
    lake.registerTable("big", "silver", "nums", path)
    val res = lake.query.run("SELECT n FROM big.silver.nums").toOption.get
    assert(res.truncated && res.rowCount == 10000 && res.maxRows == 10000)
  }

  test("childTable splits an array-of-structs into a keyed child frame") {
    val spark2 = spark
    import spark2.implicits._
    val df = spark.read.json(Seq(
      """{"order_id": 1, "who": "a", "lineItems": [{"itemSku": "x", "qty": 2}, {"itemSku": "y", "qty": 1}]}""",
      """{"order_id": 2, "who": "b", "lineItems": []}""",
      """{"order_id": 3, "who": "c"}""").toDS())
    val (parent, child) =
      graft.silver.Normalize.childTable(df, "lineItems", "order_id")
    assert(parent.columns.toSeq.sorted == Seq("order_id", "who"))
    assert(parent.count() == 3)
    // snake_cased element fields, deterministic (parent, idx) key;
    // empty/missing arrays contribute no child rows
    assert(child.columns.toSeq ==
      Seq("_parent_order_id", "_idx", "item_sku", "qty"))
    val rows = child.orderBy("_parent_order_id", "_idx")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(rows.toSeq == Seq((1L, 0, "x"), (1L, 1, "y")))
    // scalar arrays become a single `value` column
    val df2 = spark.read.json(Seq(
      """{"id": 7, "tags": ["t1", "t2"]}""").toDS())
    val (_, tags) = graft.silver.Normalize.childTable(df2, "tags", "id")
    assert(tags.columns.toSeq == Seq("_parent_id", "_idx", "value"))
    assert(tags.count() == 2)

    // element keys that would collide after snake-casing get suffixed,
    // and dotted keys resolve literally (getField, not a parsed path)
    val df3 = spark.read.json(Seq(
      """{"id": 1, "xs": [{"itemSku": "a", "item_sku": "b", "p.q": "c"}]}""")
      .toDS())
    val (_, xs) = graft.silver.Normalize.childTable(df3, "xs", "id")
    assert(xs.columns.toSeq ==
      Seq("_parent_id", "_idx", "item_sku", "item_sku_2", "p_q"))
    val r = xs.head()
    assert(Seq(r.getString(2), r.getString(3), r.getString(4))
      .toSet == Set("a", "b", "c"))
  }
}
