package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.silver.IncrementalSessions

/** Incremental sessionize ≡ full rebuild, across RANDOM (non-
  * chronological) append splits — the exactness claim on
  * [[graft.silver.IncrementalSessions]]: folding per-batch session
  * intervals with the gap-tolerant interval merge reproduces the
  * one-shot sessionization of the full event set bit-for-bit,
  * including late batches that land between, before, or bridging
  * existing sessions.
  */
class IncrementalSessionsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  /** Seeded synthetic click stream: inter-event gaps straddle the
    * 1800 s session gap (including the exact-1800 boundary, which must
    * NOT split). */
  private def clicks(seed: Long, users: Int = 12,
      perUser: Int = 40): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = for {
      u <- 1 to users
      base = 1700000000L + rnd.nextInt(100000)
      (t, i) <- (1 to perUser).scanLeft(base) { (t, _) =>
        t + (rnd.nextInt(4) match {
          case 0 => rnd.nextInt(1700) + 1 // same session
          case 1 => 1800                  // boundary: exactly the gap
          case 2 => 1801                  // boundary: just over
          case _ => 1800 + rnd.nextInt(20000)
        })
      }.zipWithIndex
    } yield (u.toLong, new java.sql.Timestamp(t * 1000L),
      (u * 100000 + i).toLong, "click")
    rows.toDF("user_id", "ts", "event_id", "event_type")
  }

  private def rows(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("user_id"), col("session_idx"), col("s_start"),
        col("s_end"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("mergeSessions fold over random splits equals one-shot sessionize",
      Slow) {
    for (seed <- Seq(1L, 7L, 42L)) {
      val all = clicks(seed)
      val oneShot = rows(IncrementalSessions.sessions(all))
      // random (NOT chronological) assignment to 4 batches: every fold
      // sees late data relative to what it already folded
      val rnd = new scala.util.Random(seed * 31 + 5)
      val tagged = all.withColumn("b",
        pmod(crc32(concat_ws("-", col("event_id"), lit(rnd.nextInt()))),
          lit(4)))
      val batches = (0 until 4).map(i =>
        tagged.filter(col("b") === i).drop("b"))
      assert(batches.forall(_.count() > 0), s"degenerate split seed=$seed")
      val folded = batches.tail.foldLeft(
        IncrementalSessions.sessions(batches.head)) { (state, b) =>
        IncrementalSessions.mergeSessions(
          state, IncrementalSessions.sessions(b))
      }
      assert(rows(folded) == oneShot, s"fold != one-shot for seed=$seed")
    }
  }

  test("mergeSessions leaves untouched users' rows unchanged") {
    val all = clicks(3L, users = 6)
    val first = all.filter(col("user_id") <= 4)
    val delta = all.filter(col("user_id") > 4)
    val state = IncrementalSessions.sessions(first)
    val out = IncrementalSessions.mergeSessions(
      state, IncrementalSessions.sessions(delta))
    // users 1-4 are absent from the delta: their state rows pass through
    val before = rows(state.filter(col("user_id") <= 4))
    val after = rows(out.filter(col("user_id") <= 4))
    assert(after == before)
    assert(rows(out) == rows(IncrementalSessions.sessions(all)))
  }

  test("update() persists the fold across batches (atomic state swap)") {
    val dir = java.nio.file.Files.createTempDirectory("inc-sess-").toString
    val statePath = s"$dir/click_sessions_state"
    val all = clicks(11L)
    val split = all.withColumn("b", pmod(col("event_id"), lit(3)))
    (0 until 3).foreach { i =>
      IncrementalSessions.update(spark, statePath,
        split.filter(col("b") === i).drop("b"))
    }
    val state = spark.read.parquet(statePath)
    assert(rows(state) == rows(IncrementalSessions.sessions(all)))
    graft.silver.Upsert.deleteRecursively(java.nio.file.Paths.get(dir))
  }

  test("maintainClickSessionsLayout refreshes the layout q141 resolves") {
    val dir = java.nio.file.Files.createTempDirectory("inc-sess-lay-")
    val srcDir = dir.toString
    val statePath = s"$srcDir/state"
    val all = clicks(19L, users = 8)
    val first = all.filter(col("event_id") % 2 === 0)
    val late = all.filter(col("event_id") % 2 === 1)
    // two appended batches, second one entirely "late" data
    IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, first)
    val name = IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, late)
    // the read path a query takes (BucketedTables.tableOr) resolves the
    // refreshed layout, and it equals the from-scratch rebuild
    val resolved = graft.silver.BucketedTables.tableOr(
      spark, srcDir, "click_sessions", Seq("user_id"))(
      sys.error("layout must resolve"))
    assert(rows(resolved) == rows(IncrementalSessions.sessions(all)))
    // bucketed layout property preserved by the refresh path
    val cat = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(
        name.split('.')(1), Some(name.split('.')(0))))
    assert(cat.bucketSpec.exists(_.bucketColumnNames == Seq("user_id")))
    spark.sql(s"DROP TABLE $name")
    graft.silver.Upsert.deleteRecursively(dir)
  }

  test("bucket-scoped refresh: per-bucket content equals the full " +
      "rebuild; untouched buckets keep their exact files") {
    val dir = java.nio.file.Files.createTempDirectory("inc-sess-bkt-")
    val srcDir = dir.toString
    val statePath = s"$srcDir/state"
    val all = clicks(29L, users = 24)
    // append split: the bootstrap batch covers every user (so every
    // user bucket holds a file), the second batch touches ONLY users
    // 17-24 with out-of-order (odd-event) data
    val batch0 = all.filter(col("user_id") <= 16 ||
      col("event_id") % 2 === 0)
    val batch1 = all.filter(col("user_id") > 16 &&
      col("event_id") % 2 === 1)
    val name = IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, batch0)
    val before = graft.silver.BucketedTables.bucketFiles(spark, name)
      .map { case (b, sts) => b -> sts.map(_.getPath.getName).toSet }
    // the buckets batch1 touches, via the SAME hash the bucket spec uses
    val touched = batch1
      .select(pmod(hash(col("user_id")), lit(32)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(touched.nonEmpty && before.keySet.exists(!touched(_)),
      "degenerate fixture: no untouched bucket to prove carry-across on")
    IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, batch1)
    val after = graft.silver.BucketedTables.bucketFiles(spark, name)
    val afterNames = after.map { case (b, sts) =>
      b -> sts.map(_.getPath.getName).toSet }
    // untouched buckets carried their EXACT files across (same names —
    // a rewrite would mint fresh task uuids), touched ones were rewritten
    for ((b, names) <- before if !touched(b))
      assert(afterNames.get(b).contains(names),
        s"untouched bucket $b was rewritten: $names -> ${afterNames.get(b)}")
    for ((b, names) <- before if touched(b))
      assert(!afterNames.get(b).contains(names),
        s"touched bucket $b kept its old file")
    // PER-BUCKET-FILE content equality vs the from-scratch rebuild:
    // each bucket file holds exactly the rebuild's rows for that bucket
    val rebuild = IncrementalSessions.sessions(batch0.unionByName(batch1))
      .withColumn("b", pmod(hash(col("user_id")), lit(32)).cast("int"))
    for ((b, sts) <- after) {
      val fileRows = rows(spark.read.parquet(
        sts.map(_.getPath.toString): _*))
      assert(fileRows == rows(rebuild.filter(col("b") === b)),
        s"bucket $b file content diverged from the full rebuild")
    }
    // and nothing exists outside the listed buckets
    assert(rows(spark.table(name)) == rows(rebuild))
    // read path still resolves the layout (q141's contract)
    val resolved = graft.silver.BucketedTables.tableOr(
      spark, srcDir, "click_sessions", Seq("user_id"))(
      sys.error("layout must resolve"))
    assert(rows(resolved) == rows(rebuild))
    spark.sql(s"DROP TABLE $name")
    graft.silver.Upsert.deleteRecursively(dir)
  }

  test("bucket-scoped refresh fallbacks: empty change set is a no-op " +
      "(exact files kept); all-buckets-touched takes the full rewrite") {
    val dir = java.nio.file.Files.createTempDirectory("inc-sess-fb-")
    val srcDir = dir.toString
    val all = clicks(37L, users = 10)
    val state = IncrementalSessions.sessions(all)
    import org.apache.spark.sql.functions.{col => c}
    // seed a live layout (2 buckets so "every bucket touched" is easy)
    val name = graft.silver.BucketedTables.refreshDerivedLayout(
      spark, srcDir, "click_sessions", Seq("user_id"),
      sortCols = Seq("user_id", "session_idx"), numBuckets = 2)(state)
    val before = graft.silver.BucketedTables.bucketFiles(spark, name)
      .map { case (b, sts) => b -> sts.map(_.getPath.getName).toSet }
    // 1. EMPTY change set → no-op: same table, same exact files
    val n1 = graft.silver.BucketedTables.refreshDerivedLayoutBuckets(
      spark, srcDir, "click_sessions", Seq("user_id"),
      sortCols = Seq("user_id", "session_idx"), numBuckets = 2)(
      state, state.select(c("user_id")).limit(0))
    assert(n1 == name)
    val afterNoop = graft.silver.BucketedTables.bucketFiles(spark, name)
      .map { case (b, sts) => b -> sts.map(_.getPath.getName).toSet }
    assert(afterNoop == before, "empty change set rewrote files")
    // 2. every bucket touched → the full-rewrite fallback: content
    // equal, and every file is fresh (new task uuids prove the path)
    graft.silver.BucketedTables.refreshDerivedLayoutBuckets(
      spark, srcDir, "click_sessions", Seq("user_id"),
      sortCols = Seq("user_id", "session_idx"), numBuckets = 2)(
      state, state.select(c("user_id")).distinct())
    val afterFull = graft.silver.BucketedTables.bucketFiles(spark, name)
      .map { case (b, sts) => b -> sts.map(_.getPath.getName).toSet }
    assert(afterFull.keySet == before.keySet &&
      afterFull.forall { case (b, names) => before(b) != names },
      "all-buckets-touched refresh must rewrite every file")
    assert(rows(spark.table(name)) == rows(state))
    spark.sql(s"DROP TABLE $name")
    graft.silver.Upsert.deleteRecursively(dir)
  }

  test("bucketed state store: a fold reads and rewrites ONLY the " +
      "touched buckets' files (bytes and names), across random splits") {
    val dir = java.nio.file.Files.createTempDirectory("inc-sess-st-")
    val statePath = s"$dir/state"
    // enough rows per bucket that DATA bytes dominate parquet's per-file
    // footer constant — the bytes-read assertion below is about data
    // pruning, not file-count bookkeeping
    val all = clicks(41L, users = 32, perUser = 300)
    // bootstrap batch covers every user; the fold batch touches only
    // users 29-32 (out-of-order odd-event data) — a narrow key spread
    val batch0 = all.filter(col("user_id") <= 28 ||
      col("event_id") % 2 === 0)
    val batch1 = all.filter(col("user_id") > 28 &&
      col("event_id") % 2 === 1)
    IncrementalSessions.updateTouched(spark, statePath, batch0)
    val before = IncrementalSessions.stateBucketFiles(statePath)
      .map { case (b, ps) => b -> ps.map(_.getFileName.toString).toSet }
    val stateBytes = IncrementalSessions.stateBucketFiles(statePath)
      .values.flatten.map(java.nio.file.Files.size).sum
    val expectTouched = batch1
      .select(pmod(hash(col("user_id")), lit(32)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(expectTouched.nonEmpty && before.keySet.exists(!expectTouched(_)),
      "degenerate fixture: no untouched state bucket")
    // bytes read during the fold: only the touched buckets' files flow
    // through parquet input (the batch itself is an in-memory frame)
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    val (touched, _) = try {
      val r = IncrementalSessions.updateTouched(spark, statePath, batch1)
      // listener events ride the async bus — wait until the counter is
      // stable (two consecutive identical reads 300 ms apart)
      var prev = -1L
      val deadline = System.nanoTime() + 10000000000L
      while (prev != bytesRead.get() && System.nanoTime() < deadline) {
        prev = bytesRead.get(); Thread.sleep(300)
      }
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(touched == expectTouched)
    val after = IncrementalSessions.stateBucketFiles(statePath)
      .map { case (b, ps) => b -> ps.map(_.getFileName.toString).toSet }
    // untouched buckets carried their EXACT files (hard links — a
    // rewrite would mint fresh task uuids); touched ones are fresh
    for ((b, names) <- before if !touched(b))
      assert(after.get(b).contains(names),
        s"untouched state bucket $b was rewritten")
    for ((b, names) <- before if touched(b))
      assert(!after.get(b).contains(names),
        s"touched state bucket $b kept its old file")
    // the fold's parquet input is bounded by the touched buckets — far
    // under the full store (the pre-r11 fold read ALL of it every batch;
    // updateTouched also re-reads the touched buckets once post-swap)
    assert(bytesRead.get() < stateBytes / 2,
      s"fold read ${bytesRead.get()} bytes; full state is $stateBytes — " +
        "the touched-bucket pruning is not happening")
    // and the folded store still equals the one-shot rebuild
    assert(rows(spark.read.parquet(statePath)) ==
      rows(IncrementalSessions.sessions(batch0.unionByName(batch1))))
    graft.silver.Upsert.deleteRecursively(dir)
  }

  test("legacy unbucketed state upgrades to the bucketed store on its " +
      "next fold") {
    val dir = java.nio.file.Files.createTempDirectory("inc-sess-lg-")
    val statePath = s"$dir/state"
    val all = clicks(43L, users = 8)
    val first = all.filter(col("event_id") % 2 === 0)
    val late = all.filter(col("event_id") % 2 === 1)
    // a state dir the PRE-bucketed writer would have left: plain
    // parquet, no bucket marker, arbitrary partitioning
    IncrementalSessions.sessions(first).coalesce(3)
      .write.parquet(statePath)
    IncrementalSessions.update(spark, statePath, late)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(statePath, "_graft_state_buckets_32")),
      "upgrade did not stamp the bucket marker")
    assert(rows(spark.read.parquet(statePath)) ==
      rows(IncrementalSessions.sessions(all)))
    // the NEXT fold is bucket-scoped: untouched buckets keep their files
    val before = IncrementalSessions.stateBucketFiles(statePath)
      .map { case (b, ps) => b -> ps.map(_.getFileName.toString).toSet }
    val one = all.filter(col("user_id") === 3)
    val (touched, _) =
      IncrementalSessions.updateTouched(spark, statePath, one)
    val after = IncrementalSessions.stateBucketFiles(statePath)
      .map { case (b, ps) => b -> ps.map(_.getFileName.toString).toSet }
    for ((b, names) <- before if !touched(b))
      assert(after.get(b).contains(names))
    graft.silver.Upsert.deleteRecursively(dir)
  }

  test("writer-tag contract: a layout built by ensureDerivedLayout is " +
      "never bucket-carried by the incremental refresher (r10 advisor)") {
    val dir = java.nio.file.Files.createTempDirectory("inc-sess-wt-")
    val srcDir = dir.toString
    val statePath = s"$srcDir/state"
    val all = clicks(47L, users = 12)
    val partial = all.filter(col("user_id") <= 3)
    // someone else (Bench's pattern) builds the layout from FULL history
    val name = graft.silver.BucketedTables.ensureDerivedLayout(
      spark, srcDir, "click_sessions", Seq("user_id"),
      sortCols = Seq("user_id", "session_idx"))(
      IncrementalSessions.sessions(all))
    val before = graft.silver.BucketedTables.bucketFiles(spark, name)
      .map { case (b, sts) => b -> sts.map(_.getPath.getName).toSet }
    // the incremental refresher folds a FRESH state from a partial
    // batch: carrying the full-history layout's untouched buckets
    // alongside this state's content would corrupt the table silently
    IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, partial)
    val after = graft.silver.BucketedTables.bucketFiles(spark, name)
      .map { case (b, sts) => b -> sts.map(_.getPath.getName).toSet }
    // writer mismatch ⇒ FULL rewrite: every file fresh, and the table
    // holds exactly the refreshed state's content (no stale mix)
    for ((b, names) <- before if after.contains(b))
      assert(after(b) != names,
        s"bucket $b carried a file across a writer change")
    assert(rows(spark.table(name)) ==
      rows(IncrementalSessions.sessions(partial)),
      "layout content is not the refresher's state after writer change")
    // and now that the refresher owns it, the NEXT fold IS bucket-scoped
    val more = all.filter(col("user_id") === 12)
    IncrementalSessions.maintainClickSessionsLayout(
      spark, srcDir, statePath, more)
    val third = graft.silver.BucketedTables.bucketFiles(spark, name)
      .map { case (b, sts) => b -> sts.map(_.getPath.getName).toSet }
    val touchedB = more
      .select(pmod(hash(col("user_id")), lit(32)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val carried = after.keySet.filter(b => !touchedB(b))
    assert(carried.nonEmpty && carried.forall(b => third(b) == after(b)),
      "same-writer fold lost the bucket-scoped carry-across")
    spark.sql(s"DROP TABLE $name")
    graft.silver.Upsert.deleteRecursively(dir)
  }

  test("refreshDerivedLayout recovers from files a dead JVM left at " +
      "the managed locations") {
    val dir = java.nio.file.Files.createTempDirectory("inc-sess-stale-")
    val srcDir = dir.toString
    val all = clicks(23L, users = 4)
    // simulate an unclean prior exit: the in-memory catalog knows
    // neither table, but files sit at BOTH managed locations (the
    // target's from a completed run, the tmp's from a crash mid-swap)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    for (t <- Seq("click_sessions_by_user_id",
        "click_sessions_by_user_id__refresh_tmp")) {
      val p = java.nio.file.Paths.get(Option(
          new java.net.URI(s"$wh/graft_bench.db/$t").getPath)
        .getOrElse(s"$wh/graft_bench.db/$t"))
      java.nio.file.Files.createDirectories(p)
      java.nio.file.Files.writeString(p.resolve("stale.parquet"), "junk")
    }
    val name = graft.silver.BucketedTables.refreshDerivedLayout(
      spark, srcDir, "click_sessions", Seq("user_id"),
      sortCols = Seq("user_id", "session_idx"))(
      IncrementalSessions.sessions(all))
    assert(rows(spark.table(name)) == rows(IncrementalSessions.sessions(all)))
    spark.sql(s"DROP TABLE $name")
    graft.silver.Upsert.deleteRecursively(dir)
  }
}
