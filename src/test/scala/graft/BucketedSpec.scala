package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.silver.BucketedTables

/** Bucketed-table upsert: correctness + the exchange-free plan property
  * that makes merges O(batch) instead of O(table) network at scale. */
class BucketedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  // unique db per run: suites share one session and its warehouse
  private val db = s"bdb${System.nanoTime()}"

  test("bucketed merge: correctness and no target-side exchange") {
    import spark.implicits._
    // align shuffle partitions with the bucket count so the source batch
    // shuffles ONCE straight into the bucket layout (the production
    // sizing rule: buckets = a multiple of cluster parallelism)
    TestSpark.withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.shuffle.partitions" -> "8") {
      val base = (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
      BucketedTables.writeMerged(spark, db, "items", base, Seq("id"))

      // merge a batch: updates 1..100, inserts 1001..1100
      val batch = ((1 to 100) ++ (1001 to 1100))
        .map(i => (i.toLong, s"new$i")).toDF("id", "payload")

      // plan property: the bucketed target side needs NO Exchange — only
      // the incoming batch is shuffled to the bucket layout
      val plan = BucketedTables
        .mergePlan(spark, db, "items", batch, Seq("id"))
        .queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(plan.contains("Bucketed: true"), plan)
      assert(exchanges == 1, s"expected 1 exchange (source side only):\n$plan")

      BucketedTables.writeMerged(spark, db, "items", batch, Seq("id"))
      val after = spark.table(s"$db.items")
      assert(after.count() == 1100)
      assert(after.filter($"id" === 50).head().getString(1) == "new50")
      assert(after.filter($"id" === 500).head().getString(1) == "v500")
      assert(after.filter($"id" === 1050).head().getString(1) == "new1050")
    }
  }

  test("bucket-scoped merge: reads and rewrites ONLY the buckets the " +
      "batch touches, equals the full merge, and falls back on schema " +
      "or spec change") {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    import spark.implicits._
    val tbl = "scoped"
    def files(): Map[Int, Set[String]] =
      BucketedTables.bucketFiles(spark, s"$db.$tbl")
        .map { case (b, sts) => b -> sts.map(_.getPath.getName).toSet }
    def rows(): Set[String] = spark.table(s"$db.$tbl").collect()
      .map(_.toSeq.map(String.valueOf).mkString("|")).toSet

    val base = (1 to 2000).map(i => (i.toLong, s"v$i")).toDF("id", "payload")
    BucketedTables.writeMerged(spark, db, tbl, base, Seq("id"))
    val before = files()

    // a narrow batch: updates two keys, inserts two — only their hash
    // buckets may change
    val batch = Seq((7L, "u7"), (1234L, "u1234"), (9001L, "n1"),
      (9002L, "n2")).toDF("id", "payload")
    val expectChanged = batch
      .select(pmod(hash(col("id")), lit(8)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(before.keySet.exists(!expectChanged(_)),
      "degenerate fixture: every bucket touched")

    // bytes read by the merge: bounded by the touched buckets' files
    val storeBytes = BucketedTables.bucketFiles(spark, s"$db.$tbl")
      .values.flatten.map(_.getLen).sum
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      BucketedTables.writeMerged(spark, db, tbl, batch, Seq("id"))
      var prev = -1L
      val deadline = System.nanoTime() + 10000000000L
      while (prev != bytesRead.get() && System.nanoTime() < deadline) {
        prev = bytesRead.get(); Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    val after = files()
    for ((b, names) <- before if !expectChanged(b))
      assert(after.get(b).contains(names),
        s"untouched bucket $b was rewritten")
    for ((b, names) <- before if expectChanged(b))
      assert(!after.get(b).contains(names),
        s"touched bucket $b kept its old file")
    assert(bytesRead.get() < storeBytes / 2,
      s"merge read ${bytesRead.get()} bytes; store is $storeBytes — " +
        "touched-bucket pruning is not happening")
    // content equals the full merge
    val expect = graft.silver.Upsert.merge(base, batch, Seq("id"))
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet
    assert(rows() == expect)

    // empty batch: a no-op (same files)
    BucketedTables.writeMerged(spark, db, tbl,
      batch.filter(lit(false)), Seq("id"))
    assert(files() == after, "empty batch must not rewrite anything")

    // schema evolution (batch adds a column): full path, still correct
    val widened = Seq((5L, "w5", 1.5)).toDF("id", "payload", "score")
    BucketedTables.writeMerged(spark, db, tbl, widened, Seq("id"))
    val t = spark.table(s"$db.$tbl")
    assert(t.columns.toSet == Set("id", "payload", "score"))
    assert(t.filter($"id" === 5).head().getDouble(2) == 1.5)
    assert(t.filter($"id" === 6).head().isNullAt(2))
    assert(t.count() == 2002)
    val widenedFiles = files()
    for ((b, names) <- after)
      assert(!widenedFiles.get(b).contains(names),
        s"schema-evolving merge must rewrite every bucket (bucket $b)")

    // bucket-count mismatch: full rewrite repairs the spec
    BucketedTables.writeMerged(spark, db, tbl,
      Seq((9003L, "n3", 2.0)).toDF("id", "payload", "score"),
      Seq("id"), numBuckets = 4)
    assert(files().keySet.forall(_ < 4), "rewrite must install the new spec")
    assert(spark.table(s"$db.$tbl").count() == 2003)
  }

  test("bucket-scoped merge, adversarial batches: a column-subset batch " +
      "hashing only to empty buckets must not narrow the table schema; " +
      "an INT batch key into a BIGINT-keyed table must hash the " +
      "TARGET-typed key") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val tbl = "adv"
    // target: (id BIGINT, payload, score) — score is target-only later
    val base = (1 to 500)
      .map(i => (i.toLong, s"v$i", i * 1.0)).toDF("id", "payload", "score")
    BucketedTables.writeMerged(spark, db, tbl, base, Seq("id"))

    // 1) batch OMITS `score` and its keys are brand-new (they can hash
    // to buckets with no existing file): the staged table must keep the
    // 3-column schema — the r11-review bug staged the RAW batch and
    // installed its 2-column schema over the carried files
    val subset = Seq((9001L, "n1"), (9002L, "n2")).toDF("id", "payload")
    BucketedTables.writeMerged(spark, db, tbl, subset, Seq("id"))
    val t1 = spark.table(s"$db.$tbl")
    assert(t1.columns.toSet == Set("id", "payload", "score"),
      "a column-subset batch must not narrow the table schema")
    assert(t1.count() == 502)
    assert(t1.filter($"id" === 100).head().getDouble(2) == 100.0,
      "carried rows lost their target-only column")
    assert(t1.filter($"id" === 9001).head().isNullAt(2))

    // 2) batch key arrives as INT (the table key is BIGINT): the probe
    // must hash the WIDENED key — murmur3(int) != murmur3(bigint), and
    // the unaligned probe made the staged-file containment require
    // throw on a merge the full path used to absorb
    val intKey = Seq((7, "i7"), (123, "i123")).toDF("id", "payload")
      .select(col("id").cast("int").as("id"), col("payload"),
        lit(2.5).as("score"))
    BucketedTables.writeMerged(spark, db, tbl, intKey, Seq("id"))
    val t2 = spark.table(s"$db.$tbl")
    assert(t2.filter($"id" === 7).head().getString(1) == "i7")
    assert(t2.filter($"id" === 123).head().getDouble(2) == 2.5)
    assert(t2.count() == 502)
  }

  test("silver layouts: q03/q06/q20 drop their fact-side exchanges and " +
      "match the raw-parquet results") {
    val dir = "/root/testdata/sf0.001"
    def run(name: String): Array[String] =
      SparkEntry.queries(name)(spark, dir).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted
    def shuffles(name: String): Int = {
      val p = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString
      "Exchange hashpartitioning".r.findAllIn(p).length +
        "Exchange rangepartitioning".r.findAllIn(p).length +
        "Exchange SinglePartition".r.findAllIn(p).length
    }
    // raw-parquet path first (no layouts registered for this session yet)
    val raw = Seq("q03_join_revenue_by_nation", "q06_window_latest_order",
      "q20_window_running_sum", "q141_overlap_join")
      .map(n => n -> run(n)).toMap
    val rawShuffles141 = shuffles("q141_overlap_join")

    BucketedTables.ensureLayout(spark, dir, "lineitem", Seq("l_orderkey"),
      numBuckets = 4)
    BucketedTables.ensureLayout(spark, dir, "orders", Seq("o_custkey"),
      sortCols = Seq("o_custkey", "o_orderdate", "o_orderkey"),
      numBuckets = 4)
    BucketedTables.ensureLayout(spark, dir, "events", Seq("user_id"),
      sortCols = Seq("user_id", "ts", "event_id"), numBuckets = 4)

    // q03 on the layout: the per-order reduce and the joins add NO
    // fact-side exchange; the only shuffle left is the ~25-row nation
    // rollup. q06/q20 read pre-partitioned input: zero exchanges.
    val p03 = SparkEntry.queries("q03_join_revenue_by_nation")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p03.contains("Bucketed: true"),
      s"q03 did not pick up the bucketed layout:\n$p03")
    assert(shuffles("q03_join_revenue_by_nation") == 1,
      s"q03 bucketed plan should keep ONLY the nation-rollup exchange:\n$p03")
    assert(shuffles("q06_window_latest_order") == 0,
      "q06 on the o_custkey layout must aggregate exchange-free")
    assert(shuffles("q20_window_running_sum") == 0,
      "q20 on the o_custkey layout must window exchange-free")
    // q141 on the user_id layout: the sessionize window reads
    // pre-partitioned, pre-sorted input — exactly one fewer exchange
    // than the raw path (the bucketed joins downstream keep theirs)
    assert(shuffles("q141_overlap_join") == rawShuffles141 - 1,
      s"q141 on the events layout should drop the sessionize-window " +
        s"exchange: raw=$rawShuffles141 bucketed=${shuffles("q141_overlap_join")}")

    // identical results on both paths
    raw.foreach { case (name, expect) =>
      assert(run(name).sameElements(expect),
        s"$name: bucketed-layout results diverge from the raw-parquet path")
    }
  }
}
