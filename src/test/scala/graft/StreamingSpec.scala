package graft

import java.nio.file.Files

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.streaming.BronzeStream

/** Structured-Streaming bronze→silver pipeline tests (SURVEY §2.9). */
class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private val schema = EndpointSchema("clicks", "web", 1, SchemaMode.Manual,
    SchemaDefinition(Seq(
      ColumnDefinition("click_id", RefType.IntegerT, required = true, primaryKey = true),
      ColumnDefinition("page", RefType.StringT))))

  test("streaming bronze->silver applies the same dedup+upsert per micro-batch") {
    val lake = new Lake(spark, Files.createTempDirectory("graft-stream-").toString)
    lake.registry.create(schema)
    lake.ingest.ingest("web", "clicks", Seq(
      """{"click_id": 1, "page": "home"}""",
      """{"click_id": 1, "page": "home-dup"}""",
      """{"click_id": 2, "page": "about"}"""))
    lake.ingest.flushAll()

    val stream = new BronzeStream(lake)
      .start("web", "clicks", trigger = Trigger.AvailableNow())
    stream.awaitTermination(60000)

    val silver = spark.read.parquet(lake.silverPath("web", "clicks"))
    assert(silver.count() == 2)
    // W1: earliest _insert_date wins within the batch
    assert(silver.filter("click_id = 1").select("page").head().getString(0) == "home")

    // second batch arrives -> upsert makes the new batch win
    lake.ingest.ingest("web", "clicks", Seq(
      """{"click_id": 2, "page": "about-v2"}""",
      """{"click_id": 3, "page": "blog"}"""))
    lake.ingest.flushAll()
    val stream2 = new BronzeStream(lake)
      .start("web", "clicks", trigger = Trigger.AvailableNow())
    stream2.awaitTermination(60000)

    val silver2 = spark.read.parquet(lake.silverPath("web", "clicks"))
    assert(silver2.count() == 3)
    assert(silver2.filter("click_id = 2").select("page").head().getString(0) == "about-v2")
  }

  test("event-time tumbling window agg with watermark") {
    val lake = new Lake(spark, Files.createTempDirectory("graft-stream-").toString)
    import spark.implicits._
    val events = Seq(
      ("2024-01-01 00:10:00", "view", 1.0),
      ("2024-01-01 00:50:00", "view", 2.0),
      ("2024-01-01 01:10:00", "click", 3.0))
      .toDF("ts_s", "event_type", "value")
      .selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "event_type", "value")
    // batch-mode execution of the same streaming plan shape
    val out = new BronzeStream(lake).windowedCounts(events)
      .selectExpr("window.start AS ws", "event_type", "n", "total_value")
      .collect()
    assert(out.length == 2)
    assert(out.exists(r => r.getAs[Long]("n") == 2))
  }

  test("stateful first-seen dedup emits each key once across micro-batches") {
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StatefulDedup
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[(Long, String, Long)]
    val df = input.toDF().toDF("user_id", "event_type", "ts")
    val deduped = StatefulDedup.firstSeen(df,
      keyCols = Seq("user_id"), orderCols = Seq("ts"))
    val q = deduped.writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()

    // batch 1: user 1 twice (later row first — earliest ts must win), user 2
    input.addData((1L, "late", 200L), (1L, "first", 100L), (2L, "x", 10L))
    q.processAllAvailable()
    val r1 = spark.table("dedup_out").collect()
    assert(r1.length == 2)
    assert(r1.find(_.getLong(0) == 1L).get.getString(1) == "first")

    // batch 2: user 1 again (suppressed), user 3 (new)
    input.addData((1L, "again", 300L), (3L, "y", 1L))
    q.processAllAvailable()
    val r2 = spark.table("dedup_out").collect()
    assert(r2.length == 3)
    assert(!r2.exists(r => r.getLong(0) == 1L && r.getString(1) != "first"))
    q.stop()
  }

  test("batch-mode first-seen picks the true earliest under iterator row reuse") {
    // Regression for the round-5 q58 break: over a parquet-backed batch
    // plan the group iterator REUSES its Row, so retaining a reference
    // (instead of a copy) silently returns a later row. Parquet-roundtrip
    // with many rows per key reproduces that execution path.
    import graft.streaming.StatefulDedup
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-dedup-").toString
    val n = 2000
    val rows = (0 until n).map { i =>
      // key = i % 20, ts decreasing within arrival order so the earliest
      // is seen LAST by the iterator
      (i % 20L, (n - i).toLong, s"payload_$i")
    }
    rows.toDF("k", "ts", "payload").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val out = StatefulDedup.firstSeen(df, keyCols = Seq("k"),
      orderCols = Seq("ts")).collect()
    assert(out.length == 20)
    out.foreach { r =>
      val k = r.getAs[Long]("k")
      // earliest ts for key k: generated at i = n-20+k → ts = 20-k
      assert(r.getAs[Long]("ts") == 20L - k,
        s"key $k kept ts ${r.getAs[Long]("ts")}, expected ${20L - k}")
    }
  }

  test("row-reuse audit: grouped-iterator operators keep full-row integrity " +
      "across partitionings") {
    // The bug class (found the hard way in round 6): Spark's group
    // iterator over Row-typed batch plans REUSES one backing row, so any
    // operator retaining a row past iterator.next() must defensively
    // copy. This audit runs the Row-consuming grouped operator
    // (StatefulDedup.firstSeen — the only Iterator[Row] retention site;
    // NearDupStream's iterator is typed tuples, fresh per row, and its
    // own batch-equality test covers it) over seeded random multi-row
    // groups where EVERY field is row-unique, through a parquet
    // roundtrip at several partitionings, and asserts the retained
    // winner's full row — not just the order column — matches a plain
    // Scala argmin.
    import graft.streaming.StatefulDedup
    import spark.implicits._
    val rnd = new scala.util.Random(421)
    val n = 3000
    val rows = (0 until n).map { i =>
      val k = rnd.nextInt(37).toLong
      val ts = rnd.nextInt(100000).toLong
      (k, ts, s"p${k}_${ts}_$i", i.toLong)
    }
    val dir = Files.createTempDirectory("graft-reuse-").toString
    rows.toDF("k", "ts", "payload", "rid").write.mode("overwrite").parquet(dir)
    val expect = rows.groupBy(_._1).map { case (k, rs) =>
      k -> rs.minBy(r => (r._2, r._4))
    }
    for (parts <- Seq(1, 7, 32)) {
      val df = spark.read.parquet(dir).repartition(parts)
      val out = StatefulDedup.firstSeen(df, Seq("k"), Seq("ts", "rid"))
        .collect()
      assert(out.length == expect.size, s"parts=$parts: wrong key count")
      out.foreach { r =>
        val e = expect(r.getAs[Long]("k"))
        assert((r.getAs[Long]("ts"), r.getAs[String]("payload"),
          r.getAs[Long]("rid")) == ((e._2, e._3, e._4)),
          s"parts=$parts key ${r.getAs[Long]("k")}: retained row lost integrity")
      }
    }
  }

  test("first-seen string order columns compare by code point, not UTF-16 unit") {
    // U+FFFD (one char) vs U+1F600 (surrogate pair 😀):
    // code-UNIT order says "\uD83D…" < "�" (0xD83D < 0xFFFD), but
    // Spark SQL ASC (UTF8_BINARY = code-POINT order) says U+FFFD < U+1F600.
    // Earliest-wins must agree with what ORDER BY would pick.
    import graft.streaming.StatefulDedup
    import spark.implicits._
    val df = Seq(
      (1L, "😀", "astral-first"),
      (1L, "�", "bmp-wins")
    ).toDF("k", "ord", "tag")
    val out = StatefulDedup.firstSeen(df, keyCols = Seq("k"),
      orderCols = Seq("ord")).collect()
    assert(out.length == 1)
    assert(out(0).getAs[String]("tag") == "bmp-wins",
      "string order column must sort by code point like Spark SQL ASC")
  }

  test("streaming session windows merge within gap and close on watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val lake = new Lake(spark, Files.createTempDirectory("graft-sess-").toString)
    val input = MemoryStream[(Long, String)]
    val events = input.toDF().toDF("user_id", "ts_s")
      .selectExpr("user_id", "CAST(ts_s AS TIMESTAMP) AS ts")
    val q = new BronzeStream(lake).sessionCounts(events, gap = "30 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()

    // user 1: two events 10 min apart (one session), then a 40-min gap
    // (second session); user 2: one event
    input.addData((1L, "2024-01-01 00:00:00"), (1L, "2024-01-01 00:10:00"),
      (1L, "2024-01-01 00:50:00"), (2L, "2024-01-01 00:05:00"))
    q.processAllAvailable()
    // advance the watermark far enough to close every session
    input.addData((9L, "2024-01-01 23:00:00"))
    q.processAllAvailable()
    val rows = spark.table("sess_out").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3)))
    assert(rows.count(_._1 == 1L) == 2)
    val s1 = rows.filter(_._1 == 1L).minBy(_._2)
    assert(s1._4 == 2) // merged two events
    assert(s1._2.startsWith("2024-01-01 00:00:00"))
    assert(s1._3.startsWith("2024-01-01 00:40:00")) // last event + gap
    assert(rows.count(_._1 == 2L) == 1)
    q.stop()
  }

  test("stream-stream interval join matches within gap, bounded by watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StreamJoin
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val input = MemoryStream[(Long, Long, String, String)]
    val events = input.toDF().toDF("event_id", "user_id", "event_type", "ts_s")
      .selectExpr("event_id", "user_id", "event_type",
        "CAST(ts_s AS TIMESTAMP) AS ts")
    val q = StreamJoin.attribute(events, "error", "click",
        gapSeconds = 600L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()

    input.addData(
      (1L, 7L, "error", "2024-01-01 00:00:00"),
      (2L, 7L, "click", "2024-01-01 00:05:00"),  // within 10 min -> match
      (3L, 7L, "click", "2024-01-01 00:20:00"),  // outside gap -> no match
      (4L, 8L, "click", "2024-01-01 00:05:00"))  // other user -> no match
    q.processAllAvailable()
    val pairs = spark.table("attr_out")
      .select("cause_id", "effect_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    q.stop()
  }

  test("streaming gold maintenance folds micro-batches incrementally and " +
      "skips replayed batch ids") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.GoldStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val statePath = java.nio.file.Files
      .createTempDirectory("graft-goldstream-").toString + "/state"
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-goldstream-ck-").toString
    val measures = Map("cents" -> col("cents"))

    val input = MemoryStream[(String, Long)]
    val q = GoldStream.maintain(
      input.toDF().toDF("k", "cents"), statePath, ckpt,
      keys = Seq("k"), measures = measures,
      trigger = Trigger.ProcessingTime(0))
    input.addData(("a", 100L), ("a", 50L), ("b", 10L))
    q.processAllAvailable()
    input.addData(("a", 25L), ("c", 7L))
    q.processAllAvailable()
    q.stop()

    val state = spark.read.parquet(statePath)
      .orderBy("k")
      .select("k", "n", "sum_cents", "min_cents", "max_cents")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(state.toSeq == Seq(
      ("a", 3L, 175L, 25L, 100L), ("b", 1L, 10L, 10L, 10L),
      ("c", 1L, 7L, 7L, 7L)))

    // replayed batch id (restart re-delivery) must be a no-op
    val replay = Seq(("a", 999L)).toDF("k", "cents")
    assert(!GoldStream.foldBatch(spark, statePath, replay,
      GoldStream.lastApplied(statePath), Seq("k"), measures,
      checkpointId = ckpt))
    assert(spark.read.parquet(statePath)
      .filter(col("k") === "a").select("sum_cents")
      .head().getLong(0) == 175L)

    // the replay watermark commits ATOMICALLY with the state (it lives
    // inside the swapped directory), so it reflects the last fold
    assert(GoldStream.readMarker(statePath) ==
      ((ckpt, GoldStream.lastApplied(statePath))))

    // pairing old state with a DIFFERENT checkpoint (whose batch ids
    // restart at 0) must fail loudly, not silently skip forever
    intercept[IllegalStateException] {
      GoldStream.foldBatch(spark, statePath, replay, 0L, Seq("k"),
        measures, checkpointId = "/some/other/checkpoint")
    }
  }

  test("gold state crash windows: kill between stage and swap, restart, " +
      "no double-fold and no skipped batch (same and fresh checkpoint)") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.GoldStream
    import spark.implicits._
    import java.nio.file.{Files, Paths}

    val base = Files.createTempDirectory("graft-goldcrash-")
    val statePath = base.toString + "/state"
    val ckpt = "/ck/one"
    val measures = Map("cents" -> col("cents"))
    def fold(id: Long, rows: (String, Long)*): Boolean =
      GoldStream.foldBatch(spark, statePath,
        rows.toSeq.toDF("k", "cents"), id, Seq("k"), measures,
        checkpointId = ckpt)
    def sumA: Long = spark.read.parquet(statePath)
      .filter(col("k") === "a").select("sum_cents").head().getLong(0)

    assert(fold(0L, ("a", 100L), ("b", 10L)))
    assert(fold(1L, ("a", 25L)))
    assert(sumA == 125L)

    // CRASH WINDOW 1: between the swap's two renames while folding batch
    // 2 — batch 2's staged dir is fully written (data + marker), the old
    // state was renamed aside, and dest does not exist. The staged fold
    // was never committed (its marker never became THE marker).
    Files.move(Paths.get(statePath), Paths.get(statePath + ".old-100"))
    val staleTmp = Paths.get(statePath + ".tmp-200")
    Files.createDirectories(staleTmp)
    Files.write(staleTmp.resolve("part-junk.parquet"), Array[Byte](1, 2))

    // restart: foreachBatch re-delivers batch 2. Recovery must restore
    // the displaced state (watermark 1) and fold batch 2 exactly once.
    assert(fold(2L, ("a", 7L)), "re-delivered batch must apply after heal")
    assert(sumA == 132L, "heal lost state or double-folded")
    assert(GoldStream.lastApplied(statePath) == 2L)
    assert(!Files.exists(Paths.get(statePath + ".old-100")))
    assert(!Files.exists(staleTmp), "stale staging dir must be cleaned")

    // a second re-delivery of batch 2 (crash after swap, before the
    // checkpoint committed) is skipped: no double-fold
    assert(!fold(2L, ("a", 7L)))
    assert(sumA == 132L)

    // CRASH WINDOW 2: swap completed but the .old cleanup didn't run —
    // the orphan must not shadow or corrupt recovery, just get dropped
    val orphan = Paths.get(statePath + ".old-050")
    Files.createDirectories(orphan)
    Files.write(orphan.resolve("part-junk.parquet"), Array[Byte](3))
    assert(fold(3L, ("b", 1L)))
    assert(sumA == 132L && GoldStream.lastApplied(statePath) == 3L)
    assert(!Files.exists(orphan), "orphaned .old dir must be cleaned")

    // CRASH WINDOW 1 under a FRESH checkpoint identity: recovery must
    // restore the displaced state and then fail LOUDLY on the identity
    // mismatch (fresh checkpoints restart batch ids at 0; silently
    // pairing them with old state would skip every delivery forever)
    Files.move(Paths.get(statePath), Paths.get(statePath + ".old-300"))
    intercept[IllegalStateException] {
      GoldStream.foldBatch(spark, statePath,
        Seq(("a", 5L)).toDF("k", "cents"), 0L, Seq("k"), measures,
        checkpointId = "/ck/fresh")
    }
    // the heal itself still happened: state restored, marker intact
    assert(sumA == 132L && GoldStream.lastApplied(statePath) == 3L)
    // and the ORIGINAL checkpoint can continue where it left off
    assert(fold(4L, ("a", 8L)))
    assert(sumA == 140L)

    // CRASH WINDOW 1c: two interrupted generations whose nanotime
    // suffixes have DIFFERENT digit counts (nanoTime's origin is
    // arbitrary, so magnitudes can shrink across JVM restarts). A
    // lexicographic sort would call ".old-999" newer than ".old-1000"
    // and restore the stale generation while deleting the real one;
    // recovery must order numerically.
    Files.move(Paths.get(statePath), Paths.get(statePath + ".old-1000"))
    val staleGen = Paths.get(statePath + ".old-999")
    Files.createDirectories(staleGen)
    Files.write(staleGen.resolve("part-stale.parquet"), Array[Byte](9))
    assert(fold(5L, ("b", 1L)), "fold after digit-count heal")
    assert(sumA == 140L && GoldStream.lastApplied(statePath) == 5L,
      "heal restored the stale generation instead of the newest")
    assert(!Files.exists(staleGen) &&
      !Files.exists(Paths.get(statePath + ".old-1000")))
  }

  test("streaming near-dup flags arrivals against state from earlier batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.NearDupStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = "the quick brown fox jumps over the lazy dog again and again"
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = NearDupStream.nearDupCandidates(docs, minEst = 0.5)
      .writeStream.format("memory").queryName("neardup_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()

    input.addData((1L, base), (2L, "completely different content here"))
    q.processAllAvailable()
    assert(spark.table("neardup_out").count() == 0)

    // batch 2: exact dup of doc 1 (every band collides, est 1.0) plus an
    // unrelated doc — only the dup pair emits, across the batch boundary
    input.addData((3L, base), (4L, "yet another unrelated text entirely"))
    q.processAllAvailable()
    val got = spark.table("neardup_out")
      .select("a", "b", "est_sim").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 3L, 1.0)))
    q.stop()
  }

  test("streaming near-dup: overflow arrivals beyond the intake cap " +
      "still pair with carried members") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.NearDupStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val base = "the quick brown fox jumps over the lazy dog again and again"
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    // tiny cap: batch 2's three dup arrivals exceed it, so doc 4 is
    // rejected from the intake buffer — its pair with the established
    // member must STILL emit (compared streaming, never stored)
    val q = NearDupStream.nearDupCandidates(docs, minEst = 0.5,
        maxBucket = 2)
      .writeStream.format("memory").queryName("neardup_overflow")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()

    input.addData((1L, base))
    q.processAllAvailable()
    input.addData((2L, base), (3L, base), (4L, base))
    q.processAllAvailable()
    val pairs = spark.table("neardup_overflow")
      .select("a", "b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)),
      s"overflow arrival lost its pair with the carried member: $pairs")
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)), s"$pairs")
    // the rejected arrival is also compared against the CURRENT intake
    // buffer, so its pairs with same-batch arrivals seen before its
    // rejection emit too (only pairs with items arriving AFTER the
    // rejection are sacrificed by the cap)
    assert(pairs.contains((2L, 4L)) && pairs.contains((3L, 4L)),
      s"overflow arrival lost its pairs with same-batch buffered docs: $pairs")
    q.stop()
  }

  // ---- adversarial-skew streaming-state pass (r9 verdict task 7): the
  // ---- MakeSkew shapes (hot key = 50% of events, universal shingle)
  // ---- driven through the STATEFUL faces with state-size assertions

  test("skew: stateful dedup under a 50%-hot key keeps state keyed by " +
      "DISTINCT keys and TTL evicts it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.StatefulDedup
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // phase 1 (no TTL — deterministic): the hot key owns HALF of every
    // batch; state must scale with DISTINCT keys, never event volume
    val input = MemoryStream[(Long, String, Long)]
    val df = input.toDF().toDF("user_id", "event_type", "ts")
    val q = StatefulDedup.firstSeen(df, keyCols = Seq("user_id"),
        orderCols = Seq("ts"))
      .writeStream.format("memory").queryName("dedup_skew")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    try {
      def batch(r: Range, hotTs: Long => Long): Seq[(Long, String, Long)] =
        r.flatMap(i => Seq((1L, s"hot_$i", hotTs(i.toLong)),
          (1L + i, s"cold_$i", 1000L + i)))
      input.addData(batch(1 to 50, i => 100L + i): _*)
      q.processAllAvailable()
      input.addData(batch(51 to 100, i => 200L - i): _*) // hot min here=100,
      q.processAllAvailable()                            // but already seen
      val out1 = spark.table("dedup_skew").collect()
      // 1 hot emission + 100 cold users; hot row is batch 1's earliest
      assert(out1.length == 101, s"got ${out1.length}")
      assert(out1.find(_.getLong(0) == 1L).get.getLong(2) == 101L)
      // state rows scale with DISTINCT KEYS (101), never with the 200
      // events — the skew inflates per-key traffic, not state
      val stateRows = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).max
      assert(stateRows == 101L, s"state rows $stateRows != 101 keys")
    } finally q.stop()

    // phase 2 (own stream — the TTL clock can't race phase 1's batches):
    // after the timeout the hot key's state evicts and it RE-EMITS —
    // the bounded-state-on-unbounded-streams tradeoff. Two TTL-specific
    // protocol facts drive the shape (both observed the hard way):
    //  1. a processing-time timeout fires only for groups with NO data
    //     in the firing batch (a key re-arriving alongside its expired
    //     timeout is processed with hasTimedOut = false, state intact →
    //     still suppressed), so the key re-arrives only after eviction
    //     has had time to fire;
    //  2. with ProcessingTimeTimeout the engine keeps scheduling
    //     timeout-check batches, so processAllAvailable NEVER sees a
    //     quiescent stream and parks forever — progress is asserted by
    //     DEADLINE-POLLING the memory sink instead, and the query is
    //     stopped in a finally (a leaked timeout query busy-loops and
    //     starves the rest of the suite).
    val input2 = MemoryStream[(Long, String, Long)]
    val q2 = StatefulDedup.firstSeen(
        input2.toDF().toDF("user_id", "event_type", "ts"),
        keyCols = Seq("user_id"), orderCols = Seq("ts"),
        stateTtl = Some("50 milliseconds"))
      .writeStream.format("memory").queryName("dedup_skew_ttl")
      .outputMode("append").trigger(Trigger.ProcessingTime(100)).start()
    try {
      def awaitSink(cond: => Boolean, what: String): Unit = {
        val deadline = System.currentTimeMillis + 60000
        while (!cond && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        assert(cond, s"timed out waiting for $what: " +
          spark.table("dedup_skew_ttl").collect().toSeq)
      }
      def sinkHas(et: String): Boolean = spark.table("dedup_skew_ttl")
        .collect().exists(_.getString(1) == et)
      input2.addData((1L, "first", 10L))
      awaitSink(sinkHas("first"), "the first emission")
      Thread.sleep(500) // generous vs the 50 ms TTL — eviction fires on
                        // one of the continuing timeout-check batches
      input2.addData((1L, "back", 20L))
      awaitSink(sinkHas("back"),
        "the TTL-evicted hot key to re-emit on re-arrival")
    } finally q2.stop()
  }

  test("skew: near-dup stream under a universal shingle profile — " +
      "bounded buckets, bounded emissions, cross-batch recall kept") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.NearDupStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // MakeSkew's universal-shingle pathology, streamed: 90 IDENTICAL
    // boilerplate docs (every band collides into one hot bucket chain)
    // plus 10 unique docs, across 3 batches
    val boiler = "terms of service apply to all users of this website " +
      "please read carefully before proceeding further thank you kindly"
    // genuinely disjoint shingle sets: seeded random letters per doc (a
    // shared-template-with-one-number-changed text is itself a NEAR-DUP
    // under 8-char shingles — the first fixture made that mistake)
    def uniq(i: Long) = new scala.util.Random(7900 + i).alphanumeric
      .filter(_.isLetter).take(120).mkString.toLowerCase
    val k = 12; val rowsPerBand = 3; val nBands = k / rowsPerBand
    val maxBucket = 8
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val q = NearDupStream.nearDupCandidates(docs, k = k,
        rowsPerBand = rowsPerBand, minEst = 0.5, maxBucket = maxBucket)
      .writeStream.format("memory").queryName("neardup_skew")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    try {
      (0 until 3).foreach { b =>
        val hot = (1 to 30).map(i => (b * 40 + i.toLong, boiler))
        val cold = (31 to 40).map(i => (b * 40 + i.toLong, uniq(b * 40 + i)))
        input.addData((hot ++ cold): _*)
        q.processAllAvailable()
      }
      val pairs = spark.table("neardup_skew")
        .select("a", "b").distinct().collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // cross-batch recall survives the hot bucket: batch 2/3 arrivals
      // (ids 41, 81) still pair with the established smallest member (1)
      assert(pairs.contains((1L, 41L)) && pairs.contains((1L, 81L)),
        s"cross-batch hot pairs lost (${pairs.size} pairs)")
      // unique docs never pair (ids with (id-1) % 40 >= 30 are unique)
      def isHot(id: Long) = (id - 1) % 40 < 30
      assert(pairs.forall { case (a, b) => isHot(a) && isHot(b) },
        s"a unique doc paired: ${pairs.filterNot(p =>
          isHot(p._1) && isHot(p._2))}")
      // BOUNDED STATE: buckets in state ≤ nBands hot chains + nBands per
      // unique doc — never one per hot doc (90 identical docs share
      // nBands bucket keys)
      val stateRows = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).max
      assert(stateRows <= nBands * (1 + 30), // 4 hot + ≤120 unique keys
        s"state rows $stateRows — hot bucket keys not shared?")
      // BOUNDED WORK: the cap contract allows ≤ 2·maxBucket comparisons
      // per arrival per band (120 arrivals × 4 bands × 16 = 7680 rows),
      // strictly below the quadratic C(90,2)×nBands ≈ 16k the uncapped
      // hot bucket would emit
      val emitted = spark.table("neardup_skew").count()
      assert(emitted <= 120L * nBands * 2 * maxBucket,
        s"emitted $emitted exceeds the cap-contract bound")
      assert(emitted < 16000L / 2,
        s"quadratic emission under the hot bucket: $emitted")
    } finally q.stop()
  }

  test("skew: drift monitor state scales with distinct buckets per " +
      "window, not with the hot bucket's event volume") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col
    import graft.streaming.DriftStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val baseline = Seq((0L, 0.25), (1L, 0.25), (2L, 0.25), (3L, 0.25))
      .toDF("bucket", "p")
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "bucket")
    val q = DriftStream.windowedDrift(df, baseline, col("bucket"),
        windowLen = "1 hour", watermark = "1 hour")
      .writeStream.format("memory").queryName("drift_skew")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      // one window, 800 events, bucket 0 hot with 50% of them
      val evs = (0 until 800).map { i =>
        val b = if (i % 2 == 0) 0L else 1L + (i % 3)
        (ts(f"2024-01-01 00:${(i % 50) + 5}%02d:00"), b)
      }
      input.addData(evs: _*)
      q.processAllAvailable()
      input.addData((ts("2024-01-01 05:00:00"), 0L)) // close the window
      q.processAllAvailable()
      val rows = spark.table("drift_skew")
        .select("n_events", "tv").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.length == 1 && rows(0)._1 == 800L, rows.toSeq.toString)
      // expected TV computed from the generated events themselves (all
      // four baseline buckets occur, no out-of-baseline buckets, so
      // TV = ½ Σ |n_b/N − 0.25|); compared with a 1e-8 tolerance since
      // the engine folds the per-bucket terms in collect_list order
      val counts = evs.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
      val expTv = (0L to 3L)
        .map(b => math.abs(counts.getOrElse(b, 0.0) / 800.0 - 0.25))
        .sum / 2
      assert(counts(0L) == 400.0, s"hot bucket must own half: $counts")
      assert(math.abs(rows(0)._2 - expTv) < 1e-8,
        s"tv ${rows(0)._2} != $expTv")
      // state rows: per-(window,bucket) + per-window — bounded by the 4
      // distinct buckets × open windows, never by the 800 events
      val stateRows = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsTotal)).max
      assert(stateRows <= 16L,
        s"drift state rows $stateRows scale with events, not buckets")
    } finally q.stop()
  }

  test("streaming drift monitor: per-window TV vs static baseline, " +
      "windows emit once the watermark closes them") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col
    import graft.streaming.DriftStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // baseline: uniform over buckets 0 and 1
    val baseline = Seq((0L, 0.5), (1L, 0.5)).toDF("bucket", "p")
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val df = input.toDF().toDF("ts", "bucket")
    val out = DriftStream.windowedDrift(df, baseline, col("bucket"),
      windowLen = "1 hour", watermark = "1 hour")
    val q = out.writeStream.format("memory").queryName("drift_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // window 00:00: all bucket 0 (p=1,0 vs q=.5,.5 -> TV = 0.5)
    // window 01:00: balanced (TV = 0)
    input.addData(
      (ts("2024-01-01 00:05:00"), 0L), (ts("2024-01-01 00:10:00"), 0L),
      (ts("2024-01-01 01:05:00"), 0L), (ts("2024-01-01 01:10:00"), 1L))
    q.processAllAvailable()
    // advance the watermark far enough to close both windows
    input.addData((ts("2024-01-01 05:00:00"), 0L))
    q.processAllAvailable()
    val rows = spark.table("drift_out")
      .select("window_start", "n_events", "tv").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    q.stop()
    assert(rows.length == 2, s"both closed windows must emit: ${rows.toSeq}")
    assert(rows(0) == ("2024-01-01 00:00:00.0", 2L, 0.5), rows(0))
    assert(rows(1) == ("2024-01-01 01:00:00.0", 2L, 0.0), rows(1))
  }

  test("drift monitor counts baseline mass missing from the window " +
      "and ignores out-of-baseline buckets' q-mass symmetrically") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.DriftStream
    import spark.implicits._
    // baseline has bucket 2 the stream never hits (q-mass 0.25 missing)
    // and the stream hits bucket 9 the baseline lacks (p treated as 0)
    val baseline = Seq((0L, 0.5), (1L, 0.25), (2L, 0.25)).toDF("bucket", "p")
    val events = Seq(
      ("2024-01-01 00:05:00", 0L), ("2024-01-01 00:10:00", 0L),
      ("2024-01-01 00:15:00", 9L), ("2024-01-01 00:20:00", 9L))
      .toDF("ts_s", "bucket")
      .selectExpr("CAST(ts_s AS TIMESTAMP) AS ts", "bucket")
    // batch-mode execution of the same plan shape (as windowedCounts test)
    val rows = DriftStream.windowedDrift(events, baseline, col("bucket"))
      .collect()
    assert(rows.length == 1)
    // p = (.5 on b0, .5 on b9), q = (.5, .25, .25, 0):
    // TV = .5*(|.5-.5| + |.5-0| + .25 + .25) = 0.5
    assert(rows(0).getAs[Double]("tv") == 0.5, rows(0).toString)
  }

  test("bloomGuard: no false negatives vs exact contamination, and runs " +
      "stateless in a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.functions.col
    import graft.ops.{Curation, DedupOps}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").select(col("doc_id"), col("text"))
    val benchmark = docs.filter(col("doc_id") < 20)
    val corpus = docs.filter(col("doc_id") >= 20)
    val benchSh = DedupOps.charShingles(benchmark, 8).select(col("s")).distinct()
    val filter = graft.functions.Bloom.buildFilter(
      benchSh, col("s"), expectedItems = 1 << 18, numBits = 1L << 22)

    // batch face: every exactly-contaminated doc must be flagged (no
    // false negatives — the property that makes false=admit safe)
    val flagged = Curation.bloomGuard(corpus, filter)
      .filter(col("maybe_contaminated")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val exact = Curation.contamination(corpus, benchmark)
      .collect().map(_.getLong(0)).toSet
    assert(exact.nonEmpty, "fixture must have contaminated docs")
    assert(exact.subsetOf(flagged),
      s"bloom guard missed exact hits: ${(exact -- flagged).take(5)}")

    // stream face: same expression over a MemoryStream, no state store
    val input = MemoryStream[(Long, String)]
    val out = Curation.bloomGuard(
      input.toDF().toDF("doc_id", "text"), filter)
    val q = out.writeStream.format("memory").queryName("guard_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    val sample = corpus.limit(5).collect().map(r => (r.getLong(0), r.getString(1)))
    input.addData(sample.toIndexedSeq: _*)
    q.processAllAvailable()
    val streamed = spark.table("guard_out")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    q.stop()
    val batchSame = Curation.bloomGuard(
        spark.createDataFrame(sample.toSeq).toDF("doc_id", "text"), filter)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(streamed == batchSame, "stream and batch faces must agree")
  }

  test("batch-mode near-dup stream equals the batch lshCandidates pairs") {
    import graft.ops.DedupOps
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col

    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val streamed = NearDupStreamFixture.pairs(docs, minEst = 0.5)
    val batch = DedupOps.lshCandidates(docs)
      .filter(col("est_sim") >= 0.5)
      .select("a", "b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty) // the corpus has near-dups; the check is real
  }
}

/** Helper kept outside the suite so the test body stays readable. */
private object NearDupStreamFixture {
  def pairs(docs: org.apache.spark.sql.DataFrame,
      minEst: Double): Set[(Long, Long)] =
    graft.streaming.NearDupStream.nearDupCandidates(docs, minEst = minEst)
      .select("a", "b").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
}
