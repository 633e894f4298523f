package perfbench

import java.nio.file.Files

import graft.SparkEntry

/** `operators`: one closed-loop client runs a fixed subset of the headline
  * queries, one per `ops` family, in interleaved rounds, the way
  * graft.Bench runs them (cache cleared before each query, output forced
  * through the noop sink). The silver layouts graft.Bench maintains are
  * built in set-up. One untimed round writes every output for the DuckDB
  * oracle check that perfbench/oracle.py runs after the JVM exits. */
object Operators {
  val Sf = 0.01
  val Builds = 2
  val Tables = Seq("region", "nation", "customer", "orders", "lineitem", "documents", "embeddings")
  val Subset: Seq[String] = Layers.Ops
  /** q142's exact oracle compares all document pairs, which DuckDB needs
    * minutes for; its prefix-filter formulation (the timed DuckDB baseline)
    * returns the same pairs barring a 64-bit hash collision. */
  val PrefixFilterOracle = Set("q142_setsim_shingles")

  /** The lineitem and orders layouts graft.Bench's maintainLayouts builds
    * (the subset reads no events layout). */
  def maintainLayouts(ctx: Ctx, dir: String): Unit = ctx.call("silver.ensureLayout") {
    val spark = ctx.spark
    graft.silver.BucketedTables.ensureLayout(spark, dir, "lineitem", Seq("l_orderkey"))
    graft.silver.BucketedTables.ensureLayout(spark, dir, "orders", Seq("o_custkey"),
      sortCols = Seq("o_custkey", "o_orderdate", "o_orderkey"))
    graft.silver.BucketedTables.ensureLayout(spark, dir, "orders", Seq("o_orderkey"),
      sortCols = Seq("o_orderkey"))
  }

  final case class Sample(query: String, ns: Long, traced: Boolean,
      persisted: Int, cachedBytes: Long)

  def run(ctx: Ctx, sessionS: Double): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val z = Gen.Sizes(Sf)
    val data = ctx.runDir.resolve("data")
    val tg = System.nanoTime()
    Gen.writeTables(spark, ctx.seed, z, data.toString, Tables)
    val genS = (System.nanoTime() - tg) / 1e9

    // layouts are kept per (session, data dir): each build reads the same
    // data through its own directory name, so each one really builds
    val warehouse = ctx.runDir.resolve("spark-warehouse")
    val ledger = new InodeLedger
    val builds = (1 to Builds).map { i =>
      val dir = ctx.runDir.resolve(s"data-$i")
      Files.createSymbolicLink(dir, data)
      ledger.scan(Seq(warehouse))
      val t0 = System.nanoTime()
      maintainLayouts(ctx, dir.toString)
      val s = (System.nanoTime() - t0) / 1e9
      (dir.toString, s, ledger.scan(Seq(warehouse)))
    }
    val dir = builds.last._1

    def runQuery(q: String, sink: org.apache.spark.sql.DataFrame => Unit): Long = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      ctx.call(s"ops.$q") {
        SparkEntry.withQueryConfs(spark, q)(sink(SparkEntry.queries(q)(spark, dir)))
      }
      System.nanoTime() - t0
    }
    val noop = (df: org.apache.spark.sql.DataFrame) =>
      df.write.format("noop").mode("overwrite").save()

    val persisted0 = sc.getPersistentRDDs.size
    // warm-up round: outputs written for the oracle check
    val out = ctx.runDir.resolve("ops_out")
    val tw = System.nanoTime()
    val errors = Seq.newBuilder[String]
    Subset.foreach { q =>
      try runQuery(q, df => df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString))
      catch { case e: Exception => errors += s"$q: ${e.getMessage}" }
    }
    Files.writeString(out.resolve("oracle_sql.json"), Json.value(Subset.map(q => q ->
      (if (PrefixFilterOracle(q)) SparkEntry.benchOracleSql(q) else SparkEntry.oracleSql(q))).toMap))
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = sessionS + Stats.median(builds.map(_._2)) + warmS

    val window = new Layers.Window(ctx)
    val samples = Vector.newBuilder[Sample]
    // whole rounds only, as many as fit in the measured time; at least one,
    // and two in a traced run, so every query is timed traced and untraced
    val start = System.nanoTime()
    val limit = (ctx.seconds * 1e9).toLong
    val minRounds = if (ctx.traced) 2 else 1
    var round = 0
    var lastRound = 0L
    while (round < minRounds || System.nanoTime() - start + lastRound <= limit) {
      val r0 = System.nanoTime()
      Subset.zipWithIndex.foreach { case (q, i) =>
        // traced runs trace every other query, alternating across rounds
        val traced = !ctx.traced || (i + round) % 2 == 0
        try {
          val ns = ctx.tracer.withTracing(traced)(runQuery(q, noop))
          samples += Sample(q, ns, traced, sc.getPersistentRDDs.size - persisted0,
            sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum)
        } catch { case e: Exception => errors += s"$q: ${e.getMessage}" }
      }
      lastRound = System.nanoTime() - r0
      round += 1
    }
    val wallS = (System.nanoTime() - start) / 1e9
    val all = samples.result()
    val layer = window.perOp(all.size)
    val heap = ctx.heapAfterGcMb()
    val measured = if (ctx.traced) all.filter(!_.traced) else all
    def perQuery(q: Double) = Subset.map(n =>
      n -> Stats.quantile(measured.filter(_.query == n).map(_.ns / 1e6), q)).toMap
    val med = perQuery(0.5)
    val p90 = perQuery(0.9)
    val inputBytes = Disk.uniqueBytes(data).toDouble
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> med.values.sum,
      "throughput_per_s" -> all.size / wallS,
      "heap_after_gc_mb" -> heap,
      "write_amp" -> Stats.median(builds.map(_._3.toDouble)) / inputBytes,
      "space_amp" -> Disk.uniqueBytes(warehouse).toDouble / inputBytes)
    val detail = Map(
      "operators_total_s" -> med.values.sum / 1000, "operators_p90_sum_s" -> p90.values.sum / 1000,
      "rounds" -> round.toDouble,
      "persisted_rdds_left" -> all.lastOption.map(_.persisted.toDouble).getOrElse(0.0),
      "setup_session_s" -> sessionS, "setup_build_s" -> Stats.median(builds.map(_._2)),
      "setup_warmup_s" -> warmS, "datagen_s" -> genS) ++
      med.map { case (q, v) => s"${q}_s" -> v / 1000 }
    val perLayer = if (!ctx.traced) Map.empty[String, Double] else {
      ctx.drain()
      val spans = ctx.tracer.all.filter(s => s.name.startsWith("ops.") && s.startNs >= start)
      val tr = all.filter(_.traced)
      val rounds = math.max(1, round).toDouble
      Subset.map(q => s"ops.${q}_s" -> Stats.median(tr.filter(_.query == q).map(_.ns / 1e9))).toMap ++
        Map(
          // spans cover every other query, so per round is twice the sum
          "ops.shuffle_bytes" -> spans.map(s => ctx.work(s).shuffleBytes.sum).sum * 2 / rounds,
          "ops.spill_bytes" -> spans.map(s => ctx.work(s).spillBytes.sum).sum * 2 / rounds,
          "ops.stages" -> spans.map(s => ctx.work(s).stages.sum).sum * 2 / rounds,
          "ops.persisted_rdds_left" -> all.last.persisted.toDouble,
          "ops.cached_bytes_held" -> all.last.cachedBytes.toDouble,
          "bench.tracing_overhead" -> Stats.median(Subset.flatMap { q =>
            val t = tr.filter(_.query == q).map(_.ns.toDouble)
            val u = all.filter(s => s.query == q && !s.traced).map(_.ns.toDouble)
            if (t.isEmpty || u.isEmpty) None else Some(Stats.median(t) / Stats.median(u) - 1)
          })) ++ layer
    }
    // exceptions were already counted as failed calls by the tracer
    val errs = errors.result()
    Outcome(errs.isEmpty, e2e, perLayer, detail, errs)
  }
}
