package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CrashPoints
import graft.streaming.{GoldStream, StatefulDedup}

/** Differential STREAMING fuzz (r13 verdict task 4): MergeFuzzSpec's
  * discipline — seeded random sequences checked against a deterministic
  * in-memory fold after every step — applied to the streaming path.
  *
  * Each seed drives random event batches (key overlap, duplicate event
  * ids within AND across batches, i.e. replay-late rows) through
  * `StatefulDedup.firstSeen` → `GoldStream.maintain` under the RocksDB
  * state-store provider, with randomly injected CrashPoints kills at
  * the swap points followed by checkpoint restarts (plus occasional
  * CLEAN stop/starts). After every batch — and in particular after
  * every restart — the persisted gold aggregate must equal the pure
  * in-memory reference: first-seen-by-eid (min order within the first
  * batch that carries the eid), summed per key. One double-fold, one
  * lost batch, or one byte of lost RocksDB dedup state breaks the sums.
  */
@SlowTest
class StreamFuzzSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  private def withRocksDb[T](body: => T): T = {
    val prior = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf, RocksDb)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(ProviderConf, v)
      case None => spark.conf.unset(ProviderConf)
    }
  }

  private def sums(statePath: String): Map[String, Long] =
    spark.read.parquet(statePath).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("sum_cents")).toMap

  private val crashPoints = Seq("swap.staged", "swap.between-renames",
    "swap.before-retire")

  for (seed <- Seq(20260816L, 4242L)) {
    test(s"seed $seed: random batches + crash/restart matrix equal the " +
        "in-memory reference after every step (RocksDB)") { withRocksDb {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"stream-fuzz-$seed-")
      val statePath = dir.resolve("gold").toString
      val ckpt = dir.resolve("ckpt").toString
      val keys = Vector("a", "b", "c", "d", "e")
      val input = MemoryStream[(String, Long, Long)]
      val deduped = StatefulDedup.firstSeen(
        input.toDF().toDF("k", "cents", "eid"),
        keyCols = Seq("eid"), orderCols = Seq("cents"))
      def start() = GoldStream.maintain(deduped, statePath, ckpt,
        keys = Seq("k"), measures = Map("cents" -> col("cents")),
        trigger = Trigger.ProcessingTime(0))

      // ---- in-memory reference ----
      val seenEids = scala.collection.mutable.Set.empty[Long]
      val refSums = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      def applyRef(batch: Seq[(String, Long, Long)]): Unit = {
        // firstSeen(eid, order=cents): per UNSEEN eid, the batch row
        // with the smallest cents wins (cents are unique run-wide, so
        // the winner is deterministic); later batches with the eid
        // emit nothing
        batch.groupBy(_._3).toSeq.sortBy(_._1).foreach { case (eid, rows) =>
          if (!seenEids(eid)) {
            seenEids += eid
            val (k, cents, _) = rows.minBy(_._2)
            refSums(k) = refSums(k) + cents
          }
        }
      }

      var q = start()
      var cents = 0L // unique-cents counter (deterministic winners)
      var nextEid = 0L
      val oldEids = scala.collection.mutable.ArrayBuffer.empty[Long]
      try {
        (1 to 12).foreach { step =>
          val batch = (0 until (1 + rnd.nextInt(5))).map { _ =>
            cents += 1 + rnd.nextInt(9)
            val eid =
              if (oldEids.nonEmpty && rnd.nextInt(10) < 3)
                oldEids(rnd.nextInt(oldEids.size)) // replayed event id
              else { nextEid += 1; oldEids += nextEid; nextEid }
            (keys(rnd.nextInt(keys.size)), cents, eid)
          }
          val action = rnd.nextInt(10)
          if (action < 3) {
            // inject a crash at a random swap point, then restart
            val point = crashPoints(rnd.nextInt(crashPoints.size))
            CrashPoints.armOnce(point)
            input.addData(batch: _*)
            try {
              scala.util.Try(q.processAllAvailable())
              assert(q.exception.isDefined,
                s"step $step: injected crash at $point did not " +
                  "terminate the query")
            } finally { CrashPoints.disarmAll(); q.stop() }
            q = start()
            q.processAllAvailable()
          } else {
            input.addData(batch: _*)
            q.processAllAvailable()
            if (action == 3) { // clean restart
              q.stop(); q = start(); q.processAllAvailable()
            }
          }
          applyRef(batch)
          assert(sums(statePath) == refSums.toMap,
            s"step $step (seed $seed): persisted aggregate diverged " +
              "from the in-memory reference")
        }
      } finally { CrashPoints.disarmAll(); q.stop() }
      graft.silver.Upsert.deleteRecursively(dir)
    }}
  }

  // --------------------------------------------------------------------
  // Event-time watermark-late rows (r14 verdict task 3): the generator
  // above replays EVENT IDS but never emits a row whose event TIME is
  // behind the watermark. This fuzz drives a watermarked tumbling-window
  // aggregation (append mode — the drop-vs-fold-vs-emit boundary) with a
  // configurable late-row rate, deliberate boundary-exact rows
  // (window.end == watermark), and the crash/restart matrix, against an
  // in-memory reference that models Spark's rule exactly:
  //  - a batch is filtered with the PRE-batch watermark: a row whose
  //    window END is <= W is dropped (a row later than W whose window is
  //    still open FOLDS — the asymmetry SURVEY §2.9 pins);
  //  - the watermark then advances to max(W, maxEventTime − delay),
  //    where maxEventTime includes DROPPED rows (the watermark node
  //    sits upstream of the late filter);
  //  - windows with end <= W finalize and emit (the trailing no-data
  //    micro-batch inside processAllAvailable applies the advanced
  //    watermark), and an emitted window can never reopen.
  // The sink is foreachBatch → keyed writeMerged (upsert on
  // (window_start, key)), so the swap-point crash injections and
  // checkpoint replays of the existing matrix apply unchanged — a
  // replayed batch re-emits the same finalized windows and the upsert
  // is value-idempotent.
  // --------------------------------------------------------------------

  private def lateSeeds: Seq[Long] =
    Seq(20260817L, 7777L) ++ sys.props.get("graft.streamfuzz.seeds")
      .toSeq.flatMap(_.split(",")).map(_.trim.toLong)

  for (seed <- lateSeeds) {
    test(s"seed $seed: watermark-late rows — drop/fold/emit boundary " +
        "under crash/restart equals the in-memory watermark model " +
        "(RocksDB)") { withRocksDb {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"stream-late-$seed-")
      val goldPath = dir.resolve("gold").toString
      val ckpt = dir.resolve("ckpt").toString
      val WindowSec = 10L
      val DelaySec = 20L
      val keys = Vector("a", "b", "c")

      val input = MemoryStream[(String, Long, Long)] // (k, tsSec, v)
      val agg = input.toDF().toDF("k", "ts_sec", "v")
        .withColumn("ts", org.apache.spark.sql.functions
          .timestamp_seconds(col("ts_sec")))
        .withWatermark("ts", s"$DelaySec seconds")
        .groupBy(org.apache.spark.sql.functions
          .window(col("ts"), s"$WindowSec seconds"), col("k"))
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.sum(col("v")).as("sv"))
        .select(col("window.start").as("ws"), col("k"), col("n"), col("sv"))
      def start() = agg.writeStream
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          graft.silver.Upsert.writeMerged(batch, goldPath, Seq("ws", "k"))
        }
        .start()

      // ---- in-memory watermark model ----
      var wMs = 0L // Spark's initial event-time watermark
      val open = scala.collection.mutable.Map
        .empty[(Long, String), (Long, Long)].withDefaultValue((0L, 0L))
      val emitted = scala.collection.mutable.Map
        .empty[(Long, String), (Long, Long)]
      var droppedRows = 0
      def winStart(tsSec: Long): Long = tsSec / WindowSec * WindowSec
      def applyRef(batch: Seq[(String, Long, Long)]): Unit = {
        batch.foreach { case (k, ts, v) =>
          val ws = winStart(ts)
          if ((ws + WindowSec) * 1000 <= wMs) droppedRows += 1 // late
          else {
            require(!emitted.contains((ws, k)),
              "model bug: open window already emitted")
            val (n, sv) = open((ws, k)); open((ws, k)) = (n + 1, sv + v)
          }
        }
        val maxMs = batch.map(_._2).max * 1000
        wMs = math.max(wMs, maxMs - DelaySec * 1000)
        val closing = open.keys.filter { case (ws, _) =>
          (ws + WindowSec) * 1000 <= wMs }.toSeq
        closing.foreach { key =>
          emitted(key) = open(key); open.remove(key) }
      }

      def gold(): Map[(Long, String), (Long, Long)] =
        if (!Files.exists(java.nio.file.Paths.get(goldPath)))
          Map.empty
        else spark.read.parquet(goldPath).collect().map { r =>
          (r.getAs[java.sql.Timestamp]("ws").getTime / 1000,
            r.getAs[String]("k")) ->
            ((r.getAs[Long]("n"), r.getAs[Long]("sv")))
        }.toMap

      var q = start()
      var maxTs = 100000L // generator clock (seconds)
      try {
        (1 to 14).foreach { step =>
          val batch = scala.collection.mutable.ArrayBuffer
            .empty[(String, Long, Long)]
          maxTs += 1 + rnd.nextInt(20)
          (0 until (1 + rnd.nextInt(4))).foreach { _ =>
            val k = keys(rnd.nextInt(keys.size))
            val ts = rnd.nextInt(10) match {
              case n if n < 3 => // configurable late rate: ~30% deep-late
                maxTs - DelaySec - WindowSec - rnd.nextInt(40)
              case n if n < 5 && wMs > 0 && (wMs / 1000) % WindowSec == 0 =>
                // boundary-exact: window.end == current watermark (DROP)
                wMs / 1000 - 1 - rnd.nextInt(WindowSec.toInt - 1)
              case _ => maxTs - rnd.nextInt(15) // on-time-ish
            }
            batch += ((k, math.max(0L, ts), 1L + rnd.nextInt(50)))
          }
          batch += ((keys(rnd.nextInt(keys.size)), maxTs,
            1L + rnd.nextInt(50))) // the clock row
          val action = rnd.nextInt(10)
          if (action < 3) {
            val point = crashPoints(rnd.nextInt(crashPoints.size))
            CrashPoints.armOnce(point)
            input.addData(batch.toSeq: _*)
            try {
              scala.util.Try(q.processAllAvailable())
              // the crash point fires only if this batch EMITS a closed
              // window (writeMerged runs per emission); otherwise the
              // batch just lands — disarm and continue either way
            } finally { CrashPoints.disarmAll(); q.stop() }
            q = start()
            q.processAllAvailable()
          } else {
            input.addData(batch.toSeq: _*)
            q.processAllAvailable()
            if (action == 3) { q.stop(); q = start(); q.processAllAvailable() }
          }
          applyRef(batch.toSeq)
          assert(gold() == emitted.toMap,
            s"step $step (seed $seed): emitted windows diverged from " +
              s"the watermark model (wMs=$wMs, open=${open.size})")
        }
        // the run exercised both sides of the boundary
        assert(droppedRows > 0,
          s"seed $seed: no late row was ever dropped — the fuzz lost " +
            "its late-data coverage")
        assert(emitted.nonEmpty,
          s"seed $seed: no window ever closed — watermark never advanced")
      } finally { CrashPoints.disarmAll(); q.stop() }
      graft.silver.Upsert.deleteRecursively(dir)
    }}
  }
}
