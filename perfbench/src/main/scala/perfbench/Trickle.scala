package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.Lake
import graft.core._
import graft.gold.GoldJob

/** `trickle`: one closed-loop writer pushes seeded JSON micro-batches
  * through ingest → flushAll → silver.processEndpoint, alternating an
  * endpoint on the bucket-scoped merge (orders) with one on the
  * partition-scoped merge (events). Freshness runs from the ingest call
  * until a point query through the query API returns the batch's rows.
  * Every [[GoldEvery]] batches it refreshes three gold jobs and reads the
  * lake through the query API once per query class (a dashboard). */
object Trickle {
  val Domain = "shop"
  // 15,000 base orders keep the wide read above the API's 10,000-row cap
  val BaseOrders = 15000
  val BaseEvents = 5000
  val BatchRows = 2000
  val GoldEvery = 5
  val Builds = 2

  val ordersSchema = EndpointSchema("orders", Domain, 1, SchemaMode.Manual,
    SchemaDefinition(Seq(
      ColumnDefinition("o_orderkey", RefType.BigintT, required = true, primaryKey = true),
      ColumnDefinition("o_custkey", RefType.BigintT),
      ColumnDefinition("o_orderstatus", RefType.StringT),
      ColumnDefinition("o_totalprice", RefType.DoubleT),
      ColumnDefinition("o_orderdate", RefType.DateT),
      ColumnDefinition("o_orderpriority", RefType.StringT))))

  /** event_date is part of the key and marked `partition`, so this
    * endpoint takes the partition-scoped merge. */
  val eventsSchema = EndpointSchema("events", Domain, 1, SchemaMode.Manual,
    SchemaDefinition(Seq(
      ColumnDefinition("event_id", RefType.BigintT, required = true, primaryKey = true),
      ColumnDefinition("event_date", RefType.DateT, required = true, primaryKey = true,
        description = Some("partition")),
      ColumnDefinition("ts", RefType.TimestampT),
      ColumnDefinition("user_id", RefType.BigintT),
      ColumnDefinition("event_type", RefType.StringT),
      ColumnDefinition("value", RefType.DoubleT))))

  private val cents = "sum(CAST(round(o_totalprice * 100) AS BIGINT))"
  val goldJobs = Seq(
    GoldJob(Domain, "status_totals",
      s"SELECT o_orderstatus, count(*) AS n_orders, $cents AS cents " +
        s"FROM $Domain.silver.orders GROUP BY o_orderstatus"),
    GoldJob(Domain, "customer_totals",
      s"SELECT o_custkey, count(*) AS n_orders, $cents AS cents " +
        s"FROM $Domain.silver.orders GROUP BY o_custkey",
      writeMode = "upsert", uniqueKey = Seq("o_custkey")),
    GoldJob(Domain, "status_summary",
      "SELECT count(*) AS n_status, sum(n_orders) AS n_orders, max(cents) AS max_cents " +
        s"FROM $Domain.gold.status_totals",
      scheduleType = "dependency", cronSchedule = None, dependencies = Seq("status_totals")))

  val Rejects = Seq(
    s"DROP TABLE $Domain.silver.orders",
    s"DELETE FROM $Domain.silver.orders WHERE o_orderkey = 1",
    s"INSERT INTO $Domain.silver.orders VALUES (1, 1, 'O', 1.0, DATE '2000-01-01', '5-LOW')",
    s"UPDATE $Domain.silver.orders SET o_orderstatus = 'X'",
    "CREATE TABLE perfbench_x AS SELECT 1 AS x")

  /** Expected gold tables, computed from the model. The upsert job never
    * deletes: a customer whose orders all moved keeps its last totals. */
  final case class GoldState(status: Map[String, (Long, Long)],
      customers: Map[Long, (Long, Long)], summary: (Long, Long, Long))

  def expectedGold(orders: Model[OrderRec], prior: Option[GoldState]): GoldState = {
    val rows = orders.rows.values.asScala.toSeq
    def agg(g: Seq[OrderRec]) = (g.size.toLong, g.map(_.cents).sum)
    val status = rows.groupBy(_.o_orderstatus).map { case (k, g) => k -> agg(g) }
    val customers = rows.groupBy(_.o_custkey).map { case (k, g) => k -> agg(g) }
    GoldState(status, prior.map(_.customers).getOrElse(Map.empty) ++ customers,
      (status.size.toLong, status.values.map(_._1).sum, status.values.map(_._2).max))
  }

  def orderRow(o: OrderRec): Seq[Any] = Seq(o.o_orderkey, o.o_custkey, o.o_orderstatus,
    o.o_totalprice, o.o_orderdate, o.o_orderpriority)
  def eventRow(e: EventRec): Seq[Any] = Seq(e.event_id, e.event_date, e.ts, e.user_id,
    e.event_type, e.value)

  /** One lake with its generator, expected state and reader. */
  final class State(ctx: Ctx, val root: Path) {
    val lake = new Lake(ctx.spark, root.toString)
    val gen = new TrickleGen(ctx.seed)
    val orders = new Model[OrderRec](_.o_orderkey)
    val events = new Model[EventRec](_.event_id)
    val reads = new Reads(ctx, lake)
    val rng = Gen.rng(ctx.seed, 200, 0)
    var jsonBytes = 0L
    var staleReads = 0
    var gold: Option[GoldState] = None
    val errors = Vector.newBuilder[String]
    lake.registry.create(ordersSchema)
    lake.registry.create(eventsSchema)
    goldJobs.foreach(lake.registry.saveGoldJob)

    def wrong(layer: String, msg: String): Unit = {
      ctx.tracer.wrong(layer, msg); errors += s"$layer: $msg"
    }
  }

  final case class Step(endpoint: String, records: Int, freshNs: Long, request: Long,
      ingestNs: Long, flushNs: Long, bronzeBytes: Long, written: Long, linked: Long,
      repairNs: Long, traced: Boolean)

  /** Push one batch through ingest → flush → silver merge, then read a
    * re-sent key and the batch's last key back through the query API. */
  def step(ctx: Ctx, st: State, endpoint: String, n: Int, request: Long,
      fileStats: Boolean): Step = {
    // the expected state is computed before the clock starts
    val (json, readSql, expected) = endpoint match {
      case "orders" =>
        val b = st.gen.orders(n)
        val ks = (b.keys.find(st.orders.rows.containsKey).toSeq :+ b.keys.last).distinct
        st.orders(b)
        (b.rows.map(_.json),
          s"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, " +
            s"o_orderpriority FROM $Domain.silver.orders WHERE o_orderkey IN (${ks.mkString(", ")})",
          ks.map(k => orderRow(st.orders.rows.get(k))).toSet)
      case _ =>
        val b = st.gen.events(n)
        val ks = (b.keys.find(st.events.rows.containsKey).toSeq :+ b.keys.last).distinct
        st.events(b)
        (b.rows.map(_.json),
          s"SELECT event_id, event_date, ts, user_id, event_type, value " +
            s"FROM $Domain.silver.events WHERE event_id IN (${ks.mkString(", ")})",
          ks.map(k => eventRow(st.events.rows.get(k))).toSet)
    }
    st.jsonBytes += json.map(_.length + 1L).sum
    val table = Paths.get(st.lake.silverPath(Domain, endpoint))
    val before = if (fileStats) fileIds(ctx, table, live = false) else Set.empty[FileId]
    var ingestNs, flushNs, bronze, repairNs = 0L
    val t0 = System.nanoTime()
    val first = ctx.call("bench.batch", request) {
      val res = ctx.call("ingest.ingest") { st.lake.ingest.ingest(Domain, endpoint, json) }
      val t1 = System.nanoTime(); ingestNs = t1 - t0
      val files = ctx.call("ingest.flush") { st.lake.ingest.flushAll() }
      flushNs = System.nanoTime() - t1
      ctx.call("silver.processEndpoint") { st.lake.silver.processEndpoint(Domain, endpoint) }
      if (res.accepted != json.size)
        st.wrong("ingest.ingest", s"accepted ${res.accepted} of ${json.size}")
      bronze = files.map(f => Files.size(Paths.get(f))).sum
      st.reads.run("point", readSql)
    }
    val fresh = System.nanoTime() - t0
    val answer =
      if (first.refused || first.rows.size >= expected.size || endpoint != "events") first
      else {
        // Committed rows the query API does not see: the Lake registers a
        // partitioned silver table without its partitions. The read is a
        // failed query.run call. To go on, the benchmark repairs the
        // catalog the way a user would and reads again; freshness ends at
        // the first read and the repair is timed on its own.
        st.staleReads += 1
        ctx.tracer.wrong("query.run", s"$endpoint read-back after a finished merge: " +
          s"${first.rows.size} of ${expected.size} rows")
        val r0 = System.nanoTime()
        ctx.call("bench.recoverPartitions", request) {
          ctx.spark.catalog.recoverPartitions(s"${Domain}_silver.$endpoint")
        }
        val again = st.reads.run("point", readSql)
        repairNs = System.nanoTime() - r0
        again
      }
    if (answer.refused || answer.rows.toSet != expected)
      st.wrong("silver.processEndpoint", s"$endpoint read-back: ${answer.rows} != $expected")
    val (w, l) = if (fileStats) {
      val live = fileIds(ctx, table, live = true)
      (live.count(k => !before.contains(k)).toLong, live.count(before.contains).toLong)
    } else (0L, 0L)
    Step(endpoint, json.size, fresh, request, ingestNs, flushNs, bronze, w, l, repairNs,
      ctx.tracer.active)
  }

  /** The table's files: all on disk, or only the live ones a reader of
    * the table sees. */
  private def fileIds(ctx: Ctx, table: Path, live: Boolean): Set[FileId] =
    if (!live) Disk.files(table).toSet
    else if (!Files.exists(table)) Set.empty
    else ctx.spark.read.parquet(table.toString).inputFiles.toSet[String]
      .map(u => FileId.of(Paths.get(new java.net.URI(u))))

  def runGold(ctx: Ctx, st: State): Long = {
    val t0 = System.nanoTime()
    val res = ctx.call("gold.runScheduled") { st.lake.gold.runScheduled(Domain, "daily") }
    val ns = System.nanoTime() - t0
    val order = res.map(_.job.jobName)
    if (order.sorted != goldJobs.map(_.jobName).sorted || res.exists(_.status != "success")
        || order.indexOf("status_summary") < order.indexOf("status_totals"))
      st.wrong("gold.runScheduled", s"ran ${res.map(r => r.job.jobName -> r.status)}")
    st.gold = Some(expectedGold(st.orders, st.gold))
    ns
  }

  /** One read of every query class, each checked against the model. */
  def dashboard(ctx: Ctx, st: State): Unit = {
    val g = st.gold.get
    val m = st.orders.rows.values.asScala.toSeq
    val r = st.rng
    val D = Domain
    def expect(cls: String, sql: String, exp: Set[Seq[Any]]): Unit = {
      val a = st.reads.run(cls, sql)
      if (a.refused || a.rows.toSet != exp || a.rows.size != exp.size)
        st.wrong("query.run", s"$cls: ${a.rows.size} rows, ${exp.size} expected: $sql")
    }
    expect("gold", s"SELECT o_orderstatus, n_orders, cents FROM $D.gold.status_totals",
      g.status.map { case (s, (n, c)) => Seq(s, n, c) }.toSet)

    val y = 1995 + r.nextInt(6)
    expect("agg", s"SELECT o_orderstatus, count(*) AS n, $cents AS cents FROM $D.silver.orders " +
      s"WHERE o_orderdate >= DATE '$y-01-01' GROUP BY o_orderstatus",
      m.filter(_.o_orderdate >= s"$y-01-01").groupBy(_.o_orderstatus)
        .map { case (s, os) => Seq(s, os.size.toLong, os.map(_.cents).sum) }.toSet)

    val p = Gen.Priorities(r.nextInt(5))
    expect("join", s"SELECT s.o_orderstatus, count(*) AS n, sum(c.n_orders) AS cust_orders " +
      s"FROM $D.silver.orders o JOIN $D.gold.customer_totals c ON o.o_custkey = c.o_custkey " +
      s"JOIN $D.gold.status_totals s ON o.o_orderstatus = s.o_orderstatus " +
      s"WHERE o.o_orderpriority = '$p' GROUP BY s.o_orderstatus",
      m.filter(o => o.o_orderpriority == p && g.customers.contains(o.o_custkey) &&
          g.status.contains(o.o_orderstatus))
        .groupBy(_.o_orderstatus).map { case (s, os) =>
          Seq(s, os.size.toLong, os.map(o => g.customers(o.o_custkey)._1).sum) }.toSet)

    val q = Gen.Priorities(r.nextInt(5))
    val wide = st.reads.run("wide", s"SELECT o_orderkey, o_orderstatus, o_orderpriority " +
      s"FROM $D.silver.orders WHERE o_orderpriority <> '$q'")
    val badRow = wide.rows.find { row =>
      val o = st.orders.rows.get(row.head.asInstanceOf[Long])
      o == null || row != Seq(o.o_orderkey, o.o_orderstatus, o.o_orderpriority) ||
        o.o_orderpriority == q
    }
    if (wide.refused || !wide.truncated || wide.rows.size != 10000 || badRow.nonEmpty)
      st.wrong("query.run", s"wide: ${wide.rows.size} rows, truncated=${wide.truncated}, $badRow")

    if (r.nextBoolean()) {
      expect("dialect", s"SELECT o_orderstatus, o_orderkey, o_totalprice FROM $D.silver.orders " +
        "QUALIFY row_number() OVER (PARTITION BY o_orderstatus " +
        "ORDER BY o_totalprice DESC, o_orderkey) <= 3",
        m.groupBy(_.o_orderstatus).values.flatMap(_.sortBy(o => (-o.o_totalprice, o.o_orderkey))
          .take(3).map(o => Seq(o.o_orderstatus, o.o_orderkey, o.o_totalprice))).toSet)
    } else {
      val o = st.orders.rows.get(r.nextLong(st.gen.ordersIssued))
      val a = st.reads.run("dialect",
        s"SELECT * EXCLUDE (o_orderpriority) FROM $D.silver.orders WHERE o_orderkey = ${o.o_orderkey}")
      if (a.refused || a.columns.contains("o_orderpriority") || a.rows != Seq(orderRow(o).take(5)))
        st.wrong("query.run", s"exclude: ${a.columns} ${a.rows}")
    }

    val reject = Rejects(r.nextInt(Rejects.size))
    if (!st.reads.run("reject", reject).refused) st.wrong("query.run", s"not refused: $reject")
  }

  /** Fresh lake with the base load of both endpoints. */
  def build(ctx: Ctx, root: Path): State = {
    val st = new State(ctx, root)
    step(ctx, st, "orders", BaseOrders, 0L, fileStats = false)
    step(ctx, st, "events", BaseEvents, 0L, fileStats = false)
    st
  }

  /** Silver and gold must equal the model, row for row. */
  def check(ctx: Ctx, st: State): Unit = {
    val spark = ctx.spark
    def rows(path: String, cols: Seq[String]) = spark.read.parquet(path)
      .select(cols.head, cols.tail: _*).collect().map(_.toSeq.map(Reads.norm))
    def same(layer: String, what: String, got: Seq[Seq[Any]], exp: Set[Seq[Any]]): Unit =
      if (got.size != exp.size || got.toSet != exp)
        st.wrong(layer, s"$what: ${got.size} rows, ${exp.size} expected, " +
          s"${got.count(r => !exp.contains(r))} differ")
    same("silver.processEndpoint", "silver orders",
      rows(st.lake.silverPath(Domain, "orders"), ordersSchema.schema.columns.map(_.name)),
      st.orders.rows.values.asScala.map(orderRow).toSet)
    same("silver.processEndpoint", "silver events",
      rows(st.lake.silverPath(Domain, "events"), eventsSchema.schema.columns.map(_.name)),
      st.events.rows.values.asScala.map(eventRow).toSet)
    st.gold.foreach { g =>
      def gold(t: String, cols: String*) = rows(st.lake.goldPath(Domain, t), cols)
      same("gold.runScheduled", "gold status_totals",
        gold("status_totals", "o_orderstatus", "n_orders", "cents"),
        g.status.map { case (k, (n, c)) => Seq(k, n, c) }.toSet)
      same("gold.runScheduled", "gold customer_totals",
        gold("customer_totals", "o_custkey", "n_orders", "cents"),
        g.customers.map { case (k, (n, c)) => Seq(k, n, c) }.toSet)
      same("gold.runScheduled", "gold status_summary",
        gold("status_summary", "n_status", "n_orders", "max_cents"),
        Set(g.summary.productIterator.toSeq))
    }
  }

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    // set-up: build the base lake several times and keep the median; the
    // last build is the one measured, after a first gold refresh and
    // dashboard warm the gold and query paths
    val builds = (1 to Builds).map { i =>
      val t0 = System.nanoTime()
      val st = build(ctx, ctx.runDir.resolve(s"lake-$i"))
      (st, (System.nanoTime() - t0) / 1e9)
    }
    builds.init.foreach(b => Disk.deleteRecursively(b._1.root))
    // stale reads of every lake the run built, as the failed calls count them
    def staleReads = builds.map(_._1.staleReads).sum
    val st = builds.last._1
    val buildS = Stats.median(builds.map(_._2))
    val tw = System.nanoTime()
    runGold(ctx, st)
    dashboard(ctx, st)
    val warmS = (System.nanoTime() - tw) / 1e9

    val ledger = new InodeLedger
    val roots = Seq(Paths.get(st.lake.root, "silver"), Paths.get(st.lake.root, "gold"))
    ledger.scan(roots)
    var written = 0L
    val json0 = st.jsonBytes
    val window = new Layers.Window(ctx)
    val steps = Vector.newBuilder[Step]
    val goldNs = Vector.newBuilder[Long]
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    var i = 0
    var readNs = 0L // dashboard reads: a reader's work, not the writer's
    // at least one gold refresh and dashboard per run
    while (System.nanoTime() < deadline || i < GoldEvery) {
      val endpoint = if (i % 2 == 0) "orders" else "events"
      // traced runs alternate pairs of traced and untraced batches
      val traced = !ctx.traced || (i / 2) % 2 == 0
      ctx.tracer.withTracing(traced) {
        steps += step(ctx, st, endpoint, BatchRows, 1000000L + i, fileStats = ctx.traced && traced)
        written += ledger.scan(roots)
        if ((i + 1) % GoldEvery == 0) {
          goldNs += runGold(ctx, st)
          val d0 = System.nanoTime()
          dashboard(ctx, st)
          readNs += System.nanoTime() - d0
        }
      }
      i += 1
    }
    val wallS = (System.nanoTime() - start - readNs) / 1e9
    val all = steps.result()
    val layer = window.perOp(all.size)
    val heap = ctx.heapAfterGcMb()
    check(ctx, st)
    val records = all.map(_.records).sum
    val measured = if (ctx.traced) all.filter(!_.traced) else all
    val fresh = measured.map(_.freshNs / 1e6)
    // the two endpoints' freshness differs by merge path; their medians are
    // averaged so the figure does not jump between the two modes
    val freshP50 = Stats.mean(Seq("orders", "events").map(e =>
      Stats.median(measured.filter(_.endpoint == e).map(_.freshNs / 1e6))))
    val writeAmp = written.toDouble / (st.jsonBytes - json0)
    val spaceAmp = Disk.uniqueBytes(st.root).toDouble / st.jsonBytes
    val goldMs = goldNs.result().map(_ / 1e6)
    val e2e = Map(
      "setup_s" -> (sessionS + buildS + warmS),
      "latency_p50_ms" -> freshP50,
      "throughput_per_s" -> records / wallS,
      "heap_after_gc_mb" -> heap,
      "write_amp" -> writeAmp,
      "space_amp" -> spaceAmp)
    val points = st.reads.done.asScala.toSeq.filter(_.cls == "point").map(_.ns / 1e6)
    val detail = Map(
      "freshness_p50_ms" -> freshP50,
      "freshness_bucketed_p50_ms" -> Stats.median(measured.filter(_.endpoint == "orders").map(_.freshNs / 1e6)),
      "freshness_partitioned_p50_ms" -> Stats.median(measured.filter(_.endpoint == "events").map(_.freshNs / 1e6)),
      "freshness_p90_ms" -> Stats.quantile(fresh, 0.9),
      "freshness_samples" -> fresh.size.toDouble,
      "ingest_rows_per_s" -> records / wallS,
      "gold_refresh_ms" -> (if (goldMs.isEmpty) Double.NaN else Stats.median(goldMs)),
      "gold_refreshes" -> goldMs.size.toDouble,
      "query_point_p50_ms" -> Stats.median(points),
      "write_amp" -> writeAmp, "space_amp" -> spaceAmp,
      "stale_reads" -> staleReads.toDouble,
      "stale_repair_ms" -> Stats.median(measured.filter(_.repairNs > 0).map(_.repairNs / 1e6)),
      "batches" -> all.size.toDouble, "setup_session_s" -> sessionS,
      "setup_build_s" -> buildS, "setup_warmup_s" -> warmS)
    val perLayer = if (!ctx.traced) Map.empty[String, Double] else {
      ctx.drain()
      val tr = all.filter(_.traced)
      val byReq = tr.map(s => s.request -> s).toMap
      val ms = ctx.spans("silver.processEndpoint").filter(m => byReq.contains(m.request))
      def ofEndpoint(e: String) = ms.filter(m => byReq(m.request).endpoint == e)
      val golds = ctx.spans("gold.runScheduled").filter(_.startNs >= start)
      val coreUtil = if (ms.isEmpty) 0.0 else Stats.mean(ms.map(m =>
        ctx.work(m).runNs.sum.toDouble / ((m.endNs - m.startNs).toDouble * ctx.cores)))
      val written = tr.map(_.written).sum.toDouble
      val linked = tr.map(_.linked).sum.toDouble
      st.reads.layerMetrics(start) ++ Map(
        "query.stale_reads" -> staleReads.toDouble,
        "ingest.call_ms" -> Stats.median(tr.map(_.ingestNs / 1e6)),
        "ingest.flush_ms" -> Stats.median(tr.map(_.flushNs / 1e6)),
        "ingest.records_per_s" -> tr.map(_.records).sum / (tr.map(_.ingestNs).sum / 1e9),
        "ingest.bronze_bytes" -> Stats.mean(tr.map(_.bronzeBytes.toDouble)),
        "silver.merge_ms" -> Layers.medianMs(ms),
        "silver.bucketed_merge_ms" -> Layers.medianMs(ofEndpoint("orders")),
        "silver.partitioned_merge_ms" -> Layers.medianMs(ofEndpoint("events")),
        "silver.jobs" -> Layers.perCall(ctx, ms)(_.jobs.sum),
        "silver.stages" -> Layers.perCall(ctx, ms)(_.stages.sum),
        "silver.tasks" -> Layers.perCall(ctx, ms)(_.tasks.sum),
        "silver.bytes_read" -> Layers.perCall(ctx, ms)(_.bytesRead.sum),
        "silver.bytes_written" -> Layers.perCall(ctx, ms)(_.bytesWritten.sum),
        "silver.shuffle_bytes" -> Layers.perCall(ctx, ms)(_.shuffleBytes.sum),
        "silver.files_written" -> written / math.max(1, tr.size),
        "silver.files_linked" -> linked / math.max(1, tr.size),
        "silver.rewrite_ratio" -> (if (written + linked == 0) 0.0 else written / (written + linked)),
        "silver.core_util" -> coreUtil,
        "gold.refresh_ms" -> Layers.medianMs(golds),
        "gold.stages" -> Layers.perCall(ctx, golds)(_.stages.sum),
        "gold.tasks" -> Layers.perCall(ctx, golds)(_.tasks.sum),
        "gold.bytes_read" -> Layers.perCall(ctx, golds)(_.bytesRead.sum),
        "gold.bytes_written" -> Layers.perCall(ctx, golds)(_.bytesWritten.sum),
        "bench.tracing_overhead" -> Layers.overhead(tr.map(_.freshNs / 1e6),
          all.filter(!_.traced).map(_.freshNs / 1e6))) ++ layer
    }
    val errs = st.errors.result()
    val stale = if (staleReads == 0) Nil else Seq(s"$staleReads read-backs through " +
      "the query API missed rows a finished merge had committed (failed query.run calls); " +
      "the rows appeared after the benchmark recovered the table's partitions in the catalog")
    Outcome(errs.isEmpty, e2e, perLayer, detail, errs.take(20) ++ stale)
  }
}
