package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.silver.{BucketedState, Upsert}

/** The DEFAULT medallion write path is bucket-scoped (r11 verdict
  * task 1): `Upsert.writeMerged` — the path SilverProcessor.processBatch
  * and GoldRunner ride — maintains the table as a key-hash-bucketed
  * store, so a narrow batch reads and rewrites only its touched buckets
  * and hard-links the rest. Proven here at the writeMerged level
  * (layout law, dtype alignment, schema-evolution fallback, legacy
  * upgrade) and END-TO-END through the silver processor with a
  * bytes-read budget (the IncrementalSessionsSpec discipline).
  */
class SilverBucketedSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private def tmpTable(): String =
    Files.createTempDirectory("silver-bkt-").resolve("t").toString

  private def idsOf(df: DataFrame): Map[Long, String] =
    df.select(col("id").cast("long"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def fileNames(path: String): Map[Int, Set[String]] =
    BucketedState.bucketFiles(path).map { case (b, ps) =>
      b -> ps.map(_.getFileName.toString).toSet
    }

  test("keyed writeMerged folds only the touched buckets; untouched " +
      "files carry by exact name; content equals the full merge") {
    import spark.implicits._
    val path = tmpTable()
    val base = (1L to 400L).map(i => (i, s"base-$i")).toDF("id", "v")
    Upsert.writeMerged(base, path, Seq("id"))
    val before = fileNames(path)
    assert(before.nonEmpty, "bootstrap write is not bucket-laid-out")
    // a batch confined to the buckets of ids 1..8
    val batch = (1L to 8L).map(i => (i, s"new-$i")).toDF("id", "v")
    val expectTouched = base.filter(col("id") <= 8)
      .select(pmod(hash(col("id")), lit(32)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    Upsert.writeMerged(batch, path, Seq("id"))
    val after = fileNames(path)
    for ((b, names) <- before if !expectTouched(b))
      assert(after.get(b).contains(names),
        s"untouched silver bucket $b was rewritten")
    for ((b, names) <- before if expectTouched(b))
      assert(!after.get(b).contains(names),
        s"touched silver bucket $b kept its old file")
    val got = idsOf(spark.read.parquet(path))
    val expect = (1L to 400L)
      .map(i => i -> (if (i <= 8) s"new-$i" else s"base-$i")).toMap
    assert(got == expect)
  }

  test("an INT batch key folds into a BIGINT-keyed table under the " +
      "TABLE's hash (dtype alignment, r11 advisor)") {
    import spark.implicits._
    val path = tmpTable()
    val base = (1L to 300L).map(i => (i, s"base-$i")).toDF("id", "v")
    Upsert.writeMerged(base, path, Seq("id"))
    // batch keys are INT — murmur3(INT) != murmur3(BIGINT) for the same
    // value, so an unaligned probe would land these in wrong buckets
    // and duplicate the keys
    val batch = (1 to 5).map(i => (i, s"new-$i")).toDF("id", "v")
    assert(batch.schema("id").dataType.typeName == "integer")
    Upsert.writeMerged(batch, path, Seq("id"))
    val result = spark.read.parquet(path)
    assert(result.count() == 300, "dtype misalignment duplicated keys")
    val got = idsOf(result)
    assert((1L to 5L).forall(i => got(i) == s"new-$i"))
    assert(got(6L) == "base-6")
  }

  test("a schema-changing batch takes one full (bucketed) rewrite and " +
      "the NEXT batch folds incrementally again") {
    import spark.implicits._
    val path = tmpTable()
    Upsert.writeMerged(
      (1L to 200L).map(i => (i, s"v-$i")).toDF("id", "v"), path, Seq("id"))
    // evolution: new column 'extra'
    val evolved = Seq((1L, "v-1b", "x")).toDF("id", "v", "extra")
    Upsert.writeMerged(evolved, path, Seq("id"))
    val afterEvolve = spark.read.parquet(path)
    assert(afterEvolve.columns.sorted.toSeq == Seq("extra", "id", "v"))
    assert(afterEvolve.count() == 200)
    assert(afterEvolve.filter(col("extra").isNotNull).count() == 1)
    // next batch (same schema) folds: untouched files carried by name
    val before = fileNames(path)
    val batch = Seq((2L, "v-2b", "y")).toDF("id", "v", "extra")
    val touched = spark.range(2, 3)
      .select(pmod(hash(col("id")), lit(32)).cast("int").as("b"))
      .collect().map(_.getInt(0)).toSet
    Upsert.writeMerged(batch, path, Seq("id"))
    val after = fileNames(path)
    for ((b, names) <- before if !touched(b))
      assert(after.get(b).contains(names),
        s"bucket $b rewritten after the evolution rewrite — the table " +
          "did not return to incremental folds")
  }

  test("a legacy (pre-bucketed) table upgrades on its next merge") {
    import spark.implicits._
    val path = tmpTable()
    // legacy layout: plain parquet, no bucket marker
    (1L to 100L).map(i => (i, s"old-$i")).toDF("id", "v")
      .write.parquet(path)
    Upsert.writeMerged(Seq((1L, "new-1")).toDF("id", "v"), path, Seq("id"))
    assert(fileNames(path).nonEmpty)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, "_graft_state_buckets_32")))
    val got = idsOf(spark.read.parquet(path))
    assert(got.size == 100 && got(1L) == "new-1" && got(2L) == "old-2")
  }

  test("bucket-count growth law: crossing the per-bucket byte target " +
      "re-buckets with ONE full rewrite (power-of-2, never shrinking), " +
      "then folds incrementally at the new count") {
    import spark.implicits._
    val path = tmpTable()
    val tiny = 4096L // per-bucket target small enough to force growth
    // poorly-compressible payload so parquet bytes track data volume
    def pay(i: Long) = (1 to 6)
      .map(s => ((i * 2654435761L + s * 40503L) & 0xffffffffL).toHexString)
      .mkString("-")
    Upsert.writeMerged((1L to 30000L).map(i => (i, pay(i)))
      .toDF("id", "v"), path, Seq("id"), targetBucketBytes = tiny)
    assert(BucketedState.markerBuckets(path).contains(32),
      "bootstrap must start at the requested count")
    // the law reads the LIVE store's bytes — compute the expected count
    // from the measured size, and require the fixture actually crosses
    // the first boundary (non-degenerate)
    val bytes = BucketedState.storeBytes(path)
    assert(bytes > 32L * tiny, s"degenerate fixture: $bytes bytes")
    var expect = 32
    while (expect < 4096 && bytes > expect.toLong * tiny) expect *= 2
    Upsert.writeMerged(Seq((30001L, "one-more")).toDF("id", "v"), path,
      Seq("id"), targetBucketBytes = tiny)
    val grown = BucketedState.markerBuckets(path).get
    assert(grown == expect,
      s"expected growth to $expect buckets for $bytes bytes, got $grown")
    assert(spark.read.parquet(path).count() == 30001)
    // subsequent narrow batch folds at the NEW count: untouched files
    // carried by exact name (no further rewrites)
    val before = fileNames(path)
    val touched = spark.range(1, 2)
      .select(pmod(hash(col("id")), lit(grown)).cast("int").as("b"))
      .collect().map(_.getInt(0)).toSet
    Upsert.writeMerged(Seq((1L, "post-growth")).toDF("id", "v"), path,
      Seq("id"), targetBucketBytes = tiny)
    assert(BucketedState.markerBuckets(path).contains(grown),
      "count must not move when bytes stay under the boundary")
    val after = fileNames(path)
    for ((b, names) <- before if !touched(b))
      assert(after.get(b).contains(names),
        s"bucket $b rewritten after the growth rewrite — the table did " +
          "not return to incremental folds at the new count")
    val got = idsOf(spark.read.parquet(path))
    assert(got(1L) == "post-growth" && got.size == 30001)
    // a smaller REQUESTED count never shrinks the live layout
    Upsert.writeMerged(Seq((2L, "x")).toDF("id", "v"), path, Seq("id"),
      numBuckets = 8, targetBucketBytes = tiny)
    assert(BucketedState.markerBuckets(path).contains(grown),
      "a smaller requested count must not shrink the live store")
  }

  test("partition probes reproduce Spark's own shuffle placement (the " +
      "law writeTouchedBuckets stakes the staged filenames on)") {
    import spark.implicits._
    for (n <- Seq(1, 2, 3, 7, 32, 101)) {
      val probes = BucketedState.partitionProbes(n)
      val placed = probes.toSeq.zipWithIndex.toDF("probe", "rank")
        .repartition(n, col("probe"))
        .select(spark_partition_id().as("pid"), col("rank"))
        .collect().map(r => r.getInt(0) -> r.getInt(1))
      placed.foreach { case (pid, rank) =>
        assert(pid == rank,
          s"n=$n: probe for rank $rank landed in partition $pid — " +
            "HashPartitioning law drifted from Murmur3_x86_32.hashInt")
      }
    }
  }

  test("staged write runs |touched| tasks, names files by bucket id, " +
      "and a row escaping the touched set fails loud") {
    import spark.implicits._
    val path = tmpTable()
    val base = (1L to 500L).map(i => (i, s"base-$i")).toDF("id", "v")
    Upsert.writeMerged(base, path, Seq("id"))
    // count the write-stage tasks of a narrow fold: must be |touched|,
    // not the 32-bucket cap (the r13 ladder's wall law)
    val batch = Seq((1L, "n1"), (2L, "n2")).toDF("id", "v")
    val touched = batch
      .select(pmod(hash(col("id")), lit(32)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val maxTasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
          : Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null && m.outputMetrics.bytesWritten > 0)
          maxTasks.getAndUpdate(math.max(_, sc.stageInfo.numTasks))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Upsert.writeMerged(batch, path, Seq("id"))
      var prev = -1
      val deadline = System.nanoTime() + 10000000000L
      while (prev != maxTasks.get() && System.nanoTime() < deadline) {
        prev = maxTasks.get(); Thread.sleep(200)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(maxTasks.get() == touched.size,
      s"write stage ran ${maxTasks.get()} tasks for ${touched.size} " +
        "touched buckets — the staged write is not touched-scoped")
    // staged files carry the BUCKET id in their name (the store law)
    val after = fileNames(path)
    assert(touched.forall(after.contains), s"missing bucket files: $after")
    val got = idsOf(spark.read.parquet(path))
    assert(got.size == 500 && got(1L) == "n1" && got(2L) == "n2" &&
      got(3L) == "base-3")
    // escapee: a mergeTouched that injects a key OUTSIDE the probed
    // touched set must fail the write, not silently mislabel the row
    val gen = graft.core.Fence.generation(java.nio.file.Paths.get(path))
    val e = intercept[Exception] {
      BucketedState.fold(spark, path, Seq((1L, "x")).toDF("id", "v"),
        Seq("id"), 32, expectedGen = Some(gen)) { (_, delta) =>
        delta.unionByName(Seq((999999L, "escapee")).toDF("id", "v"))
      }
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null &&
        c.getMessage.contains("escaped the touched buckets")),
      s"escapee did not fail with the hash-law guard: $e")
  }

  test("silver e2e: a narrow batch's upsert reads less than HALF the " +
      "store (bytes-read budget on the DEFAULT silver path)") {
    val root = Files.createTempDirectory("graft-silver-io-").toString
    val lake = new Lake(spark, root)
    lake.registry.create(EndpointSchema("io_orders", "siov", 1,
      SchemaMode.Manual, SchemaDefinition(Seq(
        ColumnDefinition("order_id", RefType.IntegerT, required = true,
          primaryKey = true),
        ColumnDefinition("payload", RefType.StringT)))))
    // wide bootstrap: 3000 keys with a fat payload so data bytes
    // dominate parquet's per-file footer constant
    val filler = "x" * 160
    lake.ingest.ingest("siov", "io_orders", (1 to 3000).map(i =>
      s"""{"order_id": $i, "payload": "$filler-$i"}"""))
    lake.ingest.flushAll()
    lake.silver.processEndpoint("siov", "io_orders")
    val silverPath = lake.silverPath("siov", "io_orders")
    val store = BucketedState.bucketFiles(silverPath)
    assert(store.nonEmpty, "silver is not bucket-laid-out")
    val storeBytes = store.values.flatten.map(Files.size(_)).sum
    // narrow batch: keys confined to ONE bucket of the live table
    val bucketExpr = pmod(hash(col("order_id")), lit(32)).cast("int")
    val oneBucket = spark.read.parquet(silverPath)
      .select(col("order_id"), bucketExpr.as("b"))
      .filter(col("b") === 7).limit(40)
      .collect().map(_.getInt(0)).toSeq
    assert(oneBucket.nonEmpty, "degenerate fixture: bucket 7 empty")
    lake.ingest.ingest("siov", "io_orders", oneBucket.map(i =>
      s"""{"order_id": $i, "payload": "updated-$i"}"""))
    lake.ingest.flushAll()
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      lake.silver.processEndpoint("siov", "io_orders")
      var prev = -1L
      val deadline = System.nanoTime() + 10000000000L
      while (prev != bytesRead.get() && System.nanoTime() < deadline) {
        prev = bytesRead.get(); Thread.sleep(300)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(bytesRead.get() < storeBytes / 2,
      s"silver upsert read ${bytesRead.get()} bytes; the store is " +
        s"$storeBytes — the batch is not bucket-scoped")
    // and the table is correct: every updated key carries the new
    // payload, every other key its original
    val rows = spark.read.parquet(silverPath)
      .select(col("order_id"), col("payload")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(rows.size == 3000)
    oneBucket.foreach(i => assert(rows(i) == s"updated-$i"))
    assert(rows(oneBucket.map(_ + 1).find(!oneBucket.contains(_)).get)
      .startsWith(filler))
    Upsert.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
