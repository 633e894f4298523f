package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.ConcurrentWriteException
import graft.silver.{BucketedState, Snapshots, Upsert}

/** Writer-writer fencing on the swapped stores (r11 verdict task 2):
  * two concurrent folds/commits must SERIALIZE or be REJECTED loudly
  * ([[ConcurrentWriteException]]) — never last-writer-wins silently
  * discarding the other's fold. Proven two ways per store: a
  * deterministic stale-generation rejection, and a multi-writer race
  * with a retry loop whose final state must equal the merge of EVERY
  * batch (a single lost update breaks the count/checksum).
  */
class FencingSpec extends AnyFunSuite {

  // local[4]/4 like every suite: the shared getOrCreate session's
  // parallelism shapes file counts other suites' bytes budgets assume
  private lazy val spark = TestSpark.session

  private def df(pairs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("id", "v")
  }

  /** True when any exception in the cause chain is the staged read
    * racing a retired generation (surfaces as FAILED_READ_FILE with
    * several sub-codes) — the same clean-retry contract as an explicit
    * [[ConcurrentWriteException]]. */
  private def isRetiredGenRace(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(10)
      .exists(t => Option(t.getMessage)
        .exists(_.contains("FAILED_READ_FILE")))

  private def retrying[T](maxTries: Int = 40)(body: => T): T = {
    var tries = 0
    while (true) {
      try return body
      catch {
        case _: ConcurrentWriteException if tries < maxTries => tries += 1
        case e: Exception
            if tries < maxTries && isRetiredGenRace(e) => tries += 1
      }
    }
    sys.error("unreachable")
  }

  private def race(writers: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(writers.size)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(
        writers.map(w => scala.concurrent.Future(w()))),
      scala.concurrent.duration.Duration(300, "s"))
    finally pool.shutdown()
  }

  test("stale-generation fold is rejected, state unchanged " +
      "(deterministic)") {
    val path = Files.createTempDirectory("fence-det-")
      .resolve("t").toString
    Upsert.writeMerged(df((1L to 50L).map(i => i -> s"a-$i")), path,
      Seq("id"))
    val before = BucketedState.bucketFiles(path)
      .map { case (b, ps) => b -> ps.map(_.getFileName.toString).toSet }
    // a fold claiming it read a generation that never existed must be
    // rejected at the swap, not installed
    intercept[ConcurrentWriteException] {
      BucketedState.fold(spark, path, df(Seq(1L -> "stale")), Seq("id"),
        expectedGen = Some(999L)) { (slice, delta) =>
        slice.map(s => Upsert.merge(s, delta, Seq("id"))).getOrElse(delta)
      }
    }
    val after = BucketedState.bucketFiles(path)
      .map { case (b, ps) => b -> ps.map(_.getFileName.toString).toSet }
    assert(after == before, "a REJECTED fold changed the store")
    assert(spark.read.parquet(path).filter(col("v") === "stale").count()
      == 0)
  }

  test("racing keyed writeMerged writers: serialize or reject, final " +
      "table is the merge of EVERY batch") {
    val path = Files.createTempDirectory("fence-race-")
      .resolve("t").toString
    Upsert.writeMerged(df(Seq(0L -> "seed")), path, Seq("id"))
    val nWriters = 4
    val perWriter = 4
    val batchSize = 25
    race((0 until nWriters).map { w => () =>
      (0 until perWriter).foreach { r =>
        val base = (w * perWriter + r) * 1000 + 1
        val batch = df((base until base + batchSize)
          .map(i => i.toLong -> s"w$w-r$r"))
        retrying() { Upsert.writeMerged(batch, path, Seq("id")) }
      }
    })
    val rows = spark.read.parquet(path)
      .select(col("id"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 1 + nWriters * perWriter * batchSize,
      s"lost update: ${rows.size} rows; a rejected-but-unretried or " +
        "silently-discarded fold dropped a batch")
    for (w <- 0 until nWriters; r <- 0 until perWriter) {
      val base = (w * perWriter + r) * 1000 + 1
      (base until base + batchSize).foreach(i =>
        assert(rows(i.toLong) == s"w$w-r$r"))
    }
  }

  test("racing snapshot commitMerged writers: every version linear, " +
      "no lost update") {
    val table = Files.createTempDirectory("fence-snap-")
      .resolve("t").toString
    Snapshots.commitMerged(df(Seq(0L -> "seed")), table, Seq("id"))
    val nWriters = 4
    val perWriter = 3
    race((0 until nWriters).map { w => () =>
      (0 until perWriter).foreach { r =>
        val base = (w * perWriter + r) * 100 + 1
        val batch = df((base until base + 10).map(i => i.toLong -> s"w$w"))
        retrying() { Snapshots.commitMerged(batch, table, Seq("id")) }
      }
    })
    // linear history: one version per successful commit, no gaps
    val vs = Snapshots.versions(table)
    assert(vs == (0L to (nWriters * perWriter).toLong),
      s"history not linear: $vs")
    val rows = Snapshots.read(spark, table).collect()
    assert(rows.length == 1 + nWriters * perWriter * 10,
      "lost update in the snapshot history")
    // every version is a strict superset of its predecessor (each
    // commit only adds keys here)
    val sizes = vs.map(v =>
      Snapshots.readVersion(spark, table, v).count())
    assert(sizes == sizes.sorted && sizes.distinct == sizes,
      s"non-monotonic version sizes: $sizes")
  }

  test("racing partition-scoped merges: writers serialize under the " +
      "table monitor, final table is the merge of EVERY batch") {
    import graft.silver.PartitionedUpsert
    import org.apache.spark.sql.functions.lit
    val path = Files.createTempDirectory("fence-part-")
      .resolve("t").toString
    PartitionedUpsert.writeMerged(
      df(Seq(0L -> "seed")).withColumn("day", lit("d0")),
      path, Seq("id"), "day")
    val nWriters = 4
    val perWriter = 3
    race((0 until nWriters).map { w => () =>
      (0 until perWriter).foreach { r =>
        val base = (w * perWriter + r) * 100 + 1
        // every batch lands in the SAME partition — the maximally
        // contended shape (all writers rewrite one partition)
        val batch = df((base until base + 10).map(i => i.toLong -> s"w$w"))
          .withColumn("day", lit("d0"))
        retrying() {
          PartitionedUpsert.writeMerged(batch, path, Seq("id"), "day")
        }
      }
    })
    val rows = spark.read.parquet(path).select(col("id")).collect()
    assert(rows.length == 1 + nWriters * perWriter * 10,
      "lost update in the partition-scoped merge")
  }

  test("racing bucket-scoped catalog merges: serialize or reject, " +
      "final table is the merge of EVERY batch") {
    import graft.silver.BucketedTables
    val db = "fence_db"
    val tbl = "race_t"
    spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
    BucketedTables.writeMerged(spark, db, tbl, df(Seq(0L -> "seed")),
      Seq("id"))
    val nWriters = 4
    val perWriter = 3
    race((0 until nWriters).map { w => () =>
      (0 until perWriter).foreach { r =>
        val base = (w * perWriter + r) * 100 + 1
        val batch = df((base until base + 10).map(i => i.toLong -> s"w$w"))
        retrying() {
          BucketedTables.writeMerged(spark, db, tbl, batch, Seq("id"))
        }
      }
    })
    val rows = spark.table(s"$db.$tbl").collect()
    assert(rows.length == 1 + nWriters * perWriter * 10,
      "lost update in the catalog-table merge")
    spark.sql(s"DROP TABLE $db.$tbl")
  }

  test("CommitGuard seam: the in-memory CAS-lease guard drives the same " +
      "writeMerged race with no lost update (object-store drop-in, " +
      "r13 verdict task 8)") {
    graft.core.Fence.commitGuard = graft.core.InMemoryCasGuard
    try {
      val path = Files.createTempDirectory("fence-cas-")
        .resolve("t").toString
      Upsert.writeMerged(df(Seq(0L -> "seed")), path, Seq("id"))
      val nWriters = 3
      val perWriter = 3
      race((0 until nWriters).map { w => () =>
        (0 until perWriter).foreach { r =>
          val base = (w * perWriter + r) * 1000 + 1
          retrying() {
            Upsert.writeMerged(
              df((base until base + 10).map(i => i.toLong -> s"w$w")),
              path, Seq("id"))
          }
        }
      })
      assert(spark.read.parquet(path).count() ==
        1 + nWriters * perWriter * 10,
        "lost update under the in-memory CAS guard")
    } finally graft.core.Fence.commitGuard = graft.core.FileLockGuard
  }

  test("withFileLock is reentrant for the OWNING thread only: a thread " +
      "that skipped the monitor fails loud instead of sharing the " +
      "critical section (r13 advisor)") {
    val dir = Files.createTempDirectory("fence-owner-").resolve("t")
    val inLock = new java.util.concurrent.CountDownLatch(1)
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var intruderError: Throwable = null
    val holder = new Thread(() =>
      graft.core.Fence.withMonitor(dir) {
        graft.core.Fence.withFileLock(dir) {
          // reentrant on the SAME thread still works
          graft.core.Fence.withFileLock(dir) { () }
          inLock.countDown()
          done.await(30, java.util.concurrent.TimeUnit.SECONDS)
        }
      })
    holder.start()
    assert(inLock.await(30, java.util.concurrent.TimeUnit.SECONDS))
    try intercept[IllegalStateException] {
      try graft.core.Fence.withFileLock(dir) { () }
      finally done.countDown()
    } finally holder.join(30000)
  }

  test("stage heartbeat keeps the liveness marker fresh, and a swept " +
      "marker fails the owner's swap instead of installing a partial " +
      "stage (r13 advisor, medium)") {
    val prev = sys.props.get("graft.fence.staleStageMs")
    sys.props("graft.fence.staleStageMs") = "1500" // heartbeat ~500ms
    try {
      val dest = Files.createTempDirectory("fence-hb-").resolve("t")
      val tmp = java.nio.file.Paths.get(dest.toString + ".tmp-1")
      val marker = java.nio.file.Paths
        .get(dest.toString + ".live-1")
      graft.core.Fence.withStage(tmp) {
        Files.createDirectories(tmp)
        Files.writeString(tmp.resolve("data"), "x")
        val t0 = Files.getLastModifiedTime(marker).toMillis
        Thread.sleep(1300)
        val t1 = Files.getLastModifiedTime(marker).toMillis
        assert(t1 > t0,
          "the stage marker's mtime was never refreshed — a stage " +
            "longer than the grace window would be swept as a crash " +
            "leftover")
        // a foreign heal sweeping OUR marker must fail the swap loudly
        Files.delete(marker)
        val e = intercept[ConcurrentWriteException] {
          Upsert.atomicSwap(tmp, dest)
        }
        assert(e.getMessage.contains("lost its liveness marker"))
        assert(!Files.exists(dest.resolve("data")),
          "the swept stage was installed anyway")
      }
    } finally {
      prev match {
        case Some(v) => sys.props("graft.fence.staleStageMs") = v
        case None => sys.props.remove("graft.fence.staleStageMs")
      }
    }
  }
}
