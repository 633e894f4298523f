package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.silver.{BucketedTables, IncrementalSessions}

/** Targeted abuse of the bucket-scoped refresh path (r10 verdict task
  * 6): the hard-link carry-across + DROP/RENAME swap earned its own
  * soak beyond ConcurrencySoakSpec's mixed workload —
  *
  *  - readers racing swaps where most buckets are LINKS (single-user
  *    folds carry numBuckets−1 files across every swap);
  *  - the extreme spreads: a batch touching exactly 1 bucket and a
  *    batch touching numBuckets−1 (both must stay on the bucket-scoped
  *    path — the full-rewrite fallback triggers only at numBuckets);
  *  - per-bucket BYTE-level content equality vs the one-shot rebuild
  *    after every swap;
  *  - the cross-device copy fallback of the carry-across
  *    ([[graft.core.Fs.linkOrCopy]]), plus a maintenance sequence with
  *    the whole state store on a different filesystem (tmpfs).
  *
  * Torn-read assertions RETHROW TestFailedException out of the
  * transient catch (the r10 advisor's ConcurrencySoakSpec lesson
  * applied from birth here).
  */
@SlowTest
class BucketRefreshSoakSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private def rows(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("user_id"), col("session_idx"), col("s_start"),
        col("s_end"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  /** Seeded clicks for an explicit user set. */
  private def clicksFor(seed: Long, users: Seq[Long],
      perUser: Int = 20): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rowsSeq = for {
      u <- users
      base = 1700000000L + rnd.nextInt(100000)
      (t, i) <- (1 to perUser).scanLeft(base) { (t, _) =>
        t + rnd.nextInt(4000) + 1
      }.zipWithIndex
    } yield (u, new java.sql.Timestamp(t * 1000L),
      (seed * 1000000 + u * 1000 + i), "click")
    rowsSeq.toDF("user_id", "ts", "event_id", "event_type")
  }

  /** user → layout/state bucket, via the product's exact hash law. */
  private def bucketOf(users: Seq[Long]): Map[Long, Int] = {
    import spark.implicits._
    users.toDF("user_id")
      .select(col("user_id"),
        pmod(hash(col("user_id")), lit(32)).cast("int").as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private def layoutFileNames(name: String): Map[Int, Set[String]] =
    BucketedTables.bucketFiles(spark, name)
      .map { case (b, sts) => b -> sts.map(_.getPath.getName).toSet }

  /** Per-bucket content equality of the live layout vs a one-shot
    * rebuild — EVERY bucket file holds exactly the rebuild's rows for
    * its bucket id (the swap's correctness contract, checked after
    * every fold in these tests, not just at the end). */
  private def assertBucketContents(name: String, expected: DataFrame)
      : Unit = {
    val want = expected
      .withColumn("b", pmod(hash(col("user_id")), lit(32)).cast("int"))
    for ((b, sts) <- BucketedTables.bucketFiles(spark, name)) {
      val got = rows(spark.read.parquet(sts.map(_.getPath.toString): _*))
      assert(got == rows(want.filter(col("b") === b)),
        s"bucket $b content diverged from the one-shot rebuild")
    }
    assert(rows(spark.table(name)) == rows(expected))
  }

  test("extreme spreads: a fold touching 1 bucket and a fold touching " +
      "numBuckets-1 both stay bucket-scoped, contents exact per swap") {
    val dir = Files.createTempDirectory("bkt-spread-")
    val srcDir = dir.toString
    val statePath = s"$srcDir/state"
    // users covering all 32 buckets for the bootstrap
    val pool = (1L to 400L)
    val b = bucketOf(pool)
    val byBucket = pool.groupBy(b)
    assert(byBucket.keySet.size == 32, "pool must cover all 32 buckets")
    val bootstrapUsers = byBucket.values.map(_.head).toSeq.sorted
    val batch0 = clicksFor(1L, bootstrapUsers)
    val name = IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, batch0)
    var history = batch0

    // ---- 1 bucket touched: exactly one fresh file, 31 carried ----
    val oneUser = byBucket(0).head
    val before1 = layoutFileNames(name)
    val batch1 = clicksFor(2L, Seq(oneUser))
    IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, batch1)
    history = history.unionByName(batch1)
    val after1 = layoutFileNames(name)
    assert(after1(0) != before1(0), "touched bucket 0 kept its file")
    for (bk <- before1.keySet if bk != 0)
      assert(after1(bk) == before1(bk),
        s"untouched bucket $bk was rewritten on a 1-bucket fold")
    assertBucketContents(name, IncrementalSessions.sessions(history))

    // ---- numBuckets-1 buckets touched: 31 fresh, exactly 1 carried --
    val spare = 7 // the one bucket left alone
    val wideUsers = byBucket.filterNot(_._1 == spare).values
      .map(_.last).toSeq.sorted
    assert(bucketOf(wideUsers).values.toSet.size == 31)
    val before2 = layoutFileNames(name)
    val batch2 = clicksFor(3L, wideUsers)
    IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, batch2)
    history = history.unionByName(batch2)
    val after2 = layoutFileNames(name)
    assert(after2(spare) == before2(spare),
      s"the single untouched bucket $spare was rewritten")
    for (bk <- before2.keySet if bk != spare)
      assert(after2(bk) != before2(bk),
        s"touched bucket $bk kept its old file on a 31-bucket fold")
    assertBucketContents(name, IncrementalSessions.sessions(history))

    spark.sql(s"DROP TABLE $name")
    graft.silver.Upsert.deleteRecursively(dir)
  }

  test("readers race swaps where most buckets are links: clean-failure-" +
      "only, every success equals a serialized prefix state") {
    val dir = Files.createTempDirectory("bkt-race-")
    val srcDir = dir.toString
    val statePath = s"$srcDir/state"
    val pool = (1L to 400L)
    val byBucket = pool.groupBy(bucketOf(pool))
    val bootstrapUsers = byBucket.values.map(_.head).toSeq.sorted
    val batch0 = clicksFor(10L, bootstrapUsers)
    // ten single-user folds: every swap carries 31 of 32 buckets as
    // hard links — the racing surface under test
    val foldBatches = (1 to 10).map(i =>
      clicksFor(10L + i, Seq(byBucket(i % 32).head)))
    // serialized prefix states (fold ≡ rebuild per
    // IncrementalSessionsSpec)
    val prefixes: Seq[Set[(Long, Long, Long, Long)]] =
      (0 to foldBatches.length).map(k => rows(IncrementalSessions.sessions(
        (batch0 +: foldBatches.take(k)).reduce(_ unionByName _))))
    val name = IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, batch0)

    val done = new AtomicBoolean(false)
    val layoutReads = new AtomicInteger(0)
    val stateReads = new AtomicInteger(0)
    val transients = new AtomicInteger(0)
    val pool2 = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool2)
    import scala.concurrent.Future
    val writer = Future {
      foldBatches.foreach(b => IncrementalSessions
        .maintainClickSessionsLayout(spark, srcDir, statePath, b))
    }
    // readers run THROUGH the write phase (the race under test) and
    // then keep reading until they bank 5 successes — under heavy
    // machine load every in-phase read can land in a swap window, so
    // the success floor must not depend on scheduling luck
    val readerLayout = Future {
      while (!done.get() || layoutReads.get() < 5) {
        try {
          BucketedTables.layout(spark, srcDir, "click_sessions",
              Seq("user_id")) match {
            case Some(t) =>
              val got = rows(t)
              assert(prefixes.contains(got),
                s"TORN LAYOUT READ: ${got.size} rows matches no prefix")
              layoutReads.incrementAndGet()
            case None => transients.incrementAndGet()
          }
        } catch {
          case tfe: org.scalatest.exceptions.TestFailedException => throw tfe
          case _: Exception => transients.incrementAndGet()
        }
      }
    }
    val readerState = Future {
      while (!done.get() || stateReads.get() < 5) {
        try {
          val got = rows(spark.read.parquet(statePath))
          assert(prefixes.contains(got),
            s"TORN STATE READ: ${got.size} rows matches no prefix")
          stateReads.incrementAndGet()
        } catch {
          case tfe: org.scalatest.exceptions.TestFailedException => throw tfe
          case _: Exception => transients.incrementAndGet()
        }
      }
    }
    try {
      scala.concurrent.Await.result(writer,
        scala.concurrent.duration.Duration(480, "s"))
      done.set(true)
      scala.concurrent.Await.result(
        Future.sequence(Seq(readerLayout, readerState)),
        scala.concurrent.duration.Duration(300, "s"))
    } finally {
      done.set(true)
      pool2.shutdown()
    }
    assert(layoutReads.get() >= 5,
      s"too few successful layout reads (${layoutReads.get()})")
    assert(stateReads.get() >= 5,
      s"too few successful state reads (${stateReads.get()})")
    // final state is the full fold
    assert(rows(spark.table(name)) == prefixes.last)
    spark.sql(s"DROP TABLE $name")
    graft.silver.Upsert.deleteRecursively(dir)
  }

  test("readers race bucket-scoped MERGES (writeMerged): clean-failure-" +
      "only, every success equals a serialized prefix state") {
    import spark.implicits._
    val db = s"mrace${System.nanoTime()}"
    def merged(rows: Set[(Long, String)]): Set[(Long, String)] = rows
    def tableRows(): Set[(Long, String)] =
      spark.table(s"$db.race").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    val base = (1L to 2000L).map(i => (i, s"v$i"))
    BucketedTables.writeMerged(spark, db, "race",
      base.toDF("id", "payload"), Seq("id"))
    // ten narrow batches: each updates 3 existing keys and inserts 2 —
    // every merge stages a few buckets and hard-links the rest
    val batches = (1 to 10).map { i =>
      ((1 to 3).map(j => (i * 37L + j * 11L, s"u$i-$j")) ++
        Seq((2000L + i * 2L, s"n$i-a"), (2001L + i * 2L, s"n$i-b")))
    }
    // serialized prefix states, computed in plain Scala (source wins)
    val prefixes: Seq[Set[(Long, String)]] =
      batches.scanLeft(base.toMap) { (cur, b) => cur ++ b.toMap }
        .map(m => merged(m.toSet))
    val done = new AtomicBoolean(false)
    val reads = new AtomicInteger(0)
    val transients = new AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.Future
    val writer = Future {
      batches.foreach(b => BucketedTables.writeMerged(spark, db, "race",
        b.toDF("id", "payload"), Seq("id")))
    }
    val reader = Future {
      while (!done.get() || reads.get() < 5) {
        try {
          val got = tableRows()
          assert(prefixes.contains(got),
            s"TORN MERGE READ: ${got.size} rows matches no prefix")
          reads.incrementAndGet()
        } catch {
          case tfe: org.scalatest.exceptions.TestFailedException => throw tfe
          case _: Exception => transients.incrementAndGet()
        }
      }
    }
    try {
      scala.concurrent.Await.result(writer,
        scala.concurrent.duration.Duration(480, "s"))
      done.set(true)
      scala.concurrent.Await.result(reader,
        scala.concurrent.duration.Duration(300, "s"))
    } finally {
      done.set(true)
      pool.shutdown()
    }
    assert(reads.get() >= 5, s"too few successful reads (${reads.get()})")
    assert(tableRows() == prefixes.last)
    spark.sql(s"DROP TABLE $db.race")
  }

  test("linkOrCopy: hard link on one filesystem, byte copy across " +
      "filesystems (/dev/shm is a different device here)") {
    val onDisk = Files.createTempDirectory("lnk-disk-")
    val src = onDisk.resolve("src.bin")
    Files.write(src, Array.fill[Byte](4096)(42))
    // same device → a LINK: same inode, no extra blocks
    val dstSame = onDisk.resolve("same.bin")
    graft.core.Fs.linkOrCopy(src, dstSame)
    assert(Files.getAttribute(src, "unix:ino") ==
      Files.getAttribute(dstSame, "unix:ino"),
      "same-fs carry must be a hard link, not a copy")
    // cross device → createLink throws (EXDEV) → the COPY fallback
    val shm = Paths.get("/dev/shm")
    assume(Files.isWritable(shm), "tmpfs not available on this box")
    val shmDir = Files.createTempDirectory(shm, "lnk-shm-")
    assert(Files.getFileStore(shmDir) != Files.getFileStore(onDisk),
      "fixture requires two distinct filesystems")
    val dstCross = shmDir.resolve("cross.bin")
    graft.core.Fs.linkOrCopy(src, dstCross)
    assert(Files.readAllBytes(dstCross).toSeq ==
      Files.readAllBytes(src).toSeq, "cross-fs copy corrupted bytes")
    assert(Files.getAttribute(src, "unix:ino") !=
      Files.getAttribute(dstCross, "unix:ino"))
    graft.silver.Upsert.deleteRecursively(onDisk)
    graft.silver.Upsert.deleteRecursively(shmDir)
  }

  test("maintenance sequence with the state store on tmpfs (different " +
      "filesystem from the warehouse)") {
    val shm = Paths.get("/dev/shm")
    assume(Files.isWritable(shm), "tmpfs not available on this box")
    val shmRoot = Files.createTempDirectory(shm, "bkt-shm-")
    val srcDir = Files.createTempDirectory("bkt-src-").toString
    val statePath = s"$shmRoot/state" // state store on tmpfs
    val pool = (1L to 200L)
    val byBucket = pool.groupBy(bucketOf(pool))
    val batch0 = clicksFor(20L, byBucket.values.map(_.head).toSeq.sorted)
    val b1 = clicksFor(21L, Seq(byBucket(3).head))
    val b2 = clicksFor(22L, Seq(byBucket(3).head, byBucket(9).head))
    val name = IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, batch0)
    val before = layoutFileNames(name)
    IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, b1)
    IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, b2)
    val all = batch0.unionByName(b1).unionByName(b2)
    assertBucketContents(name, IncrementalSessions.sessions(all))
    assert(rows(spark.read.parquet(statePath)) ==
      rows(IncrementalSessions.sessions(all)))
    // folds stayed bucket-scoped on tmpfs: untouched buckets carried
    val after = layoutFileNames(name)
    val touched = Set(3, 9)
    for ((bk, names) <- before if !touched(bk))
      assert(after(bk) == names, s"untouched bucket $bk rewritten on tmpfs")
    spark.sql(s"DROP TABLE $name")
    graft.silver.Upsert.deleteRecursively(shmRoot)
    graft.silver.Upsert.deleteRecursively(Paths.get(srcDir))
  }
}
