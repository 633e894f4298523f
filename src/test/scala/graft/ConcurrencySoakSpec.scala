package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.silver.IncrementalSessions

/** Sustained mixed-workload concurrency soak (r9 verdict task 4): the
  * reference's system ingests and maintains layouts WHILE serving its
  * 50 req/s query API — one SparkContext, writers and readers
  * interleaved for real, not a read-only smoke.
  *
  * What is asserted, per the task's letter:
  *  - NO TORN READS: every successful silver read returns an exact
  *    (count, sum-of-keys) pair from the SERIALIZED execution's state
  *    sequence — a read catching half an upsert swap would pair a count
  *    with the wrong checksum. Every successful layout read equals one
  *    serialized PREFIX state of the session fold, bit-for-bit.
  *  - CLEAN failure mode only: a read racing the swap window (healSwap /
  *    DROP+RENAME) may FAIL (table/file momentarily unresolvable) and is
  *    retried; it must never SUCCEED with mixed state.
  *  - NO CONF CROSS-TALK: per-query conf clones run concurrently and the
  *    parent session's conf is bit-identical afterwards.
  *  - SERIALIZED RESULT: after the writers finish, silver and the
  *    layout equal the one-shot (serial) computation of all batches.
  */
@SlowTest
class ConcurrencySoakSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private def rows(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("user_id"), col("session_idx"), col("s_start"),
        col("s_end"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  /** Seeded clicks (IncrementalSessionsSpec's generator shape). */
  private def clicks(seed: Long, users: Int, perUser: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rowsSeq = for {
      u <- 1 to users
      base = 1700000000L + rnd.nextInt(100000)
      (t, i) <- (1 to perUser).scanLeft(base) { (t, _) =>
        t + rnd.nextInt(4000) + 1
      }.zipWithIndex
    } yield (u.toLong, new java.sql.Timestamp(t * 1000L),
      (seed * 1000000 + u * 10000 + i).toLong, "click")
    rowsSeq.toDF("user_id", "ts", "event_id", "event_type")
  }

  test("soak: concurrent ingest→silver-upsert + layout maintenance + " +
      "queries — no torn reads, no conf cross-talk, serialized result") {
    val lake = {
      val root = java.nio.file.Files
        .createTempDirectory("graft-soak-").toString
      new Lake(spark, root)
    }
    lake.registry.create(core.EndpointSchema("soak_orders", "soaksales", 1,
      core.SchemaMode.Manual, core.SchemaDefinition(Seq(
        core.ColumnDefinition("order_id", core.RefType.IntegerT,
          required = true, primaryKey = true),
        core.ColumnDefinition("total_amount", core.RefType.DoubleT,
          required = true)))))

    val nRounds = 5
    val batchSize = 30
    // serialized silver state sequence: after round r the table holds
    // exactly rounds 0..r's disjoint ids — (count, sum(order_id)) pairs
    def ids(round: Int): Seq[Int] =
      (1 to batchSize).map(i => round * 1000 + i)
    val silverStates: Set[(Long, Long)] = (0 until nRounds).map { r =>
      val all = (0 to r).flatMap(ids)
      (all.size.toLong, all.map(_.toLong).sum)
    }.toSet + ((0L, 0L)) // before the first upsert lands

    // serialized layout state sequence: sessions of every batch prefix
    // (fold ≡ rebuild is proven by IncrementalSessionsSpec)
    val clickBatches = (0 until nRounds).map(r =>
      clicks(seed = 100 + r, users = 6, perUser = 12))
    val layoutStates: Seq[Set[(Long, Long, Long, Long)]] =
      (1 to nRounds).map(r => rows(IncrementalSessions.sessions(
        clickBatches.take(r).reduce(_ unionByName _))))
    val soakDir = java.nio.file.Files
      .createTempDirectory("graft-soak-layout-").toString
    val statePath = s"$soakDir/state"

    val writersDone = new AtomicBoolean(false)
    val silverReads = new AtomicInteger(0)
    val layoutReads = new AtomicInteger(0)
    val transients = new AtomicInteger(0)
    val parentAqe = spark.conf.get("spark.sql.adaptive.enabled")

    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.Future

    // writer 1: ingest → silver upsert, one batch per round
    val w1 = Future {
      (0 until nRounds).foreach { r =>
        lake.ingest.ingest("soaksales", "soak_orders", ids(r).map(i =>
          s"""{"order_id": $i, "total_amount": ${i % 97}.5}"""))
        lake.ingest.flushAll()
        lake.silver.processEndpoint("soaksales", "soak_orders")
      }
    }
    // writer 2: bucket-scoped derived-layout maintenance per batch
    val w2 = Future {
      clickBatches.foreach { b =>
        IncrementalSessions.maintainClickSessionsLayout(
          spark, soakDir, statePath, b)
      }
    }
    // reader A: silver count+checksum — every SUCCESS must be a
    // serialized state pair (torn read = mismatched pair = fail)
    val rA = Future {
      while (!writersDone.get()) {
        try {
          val res = lake.query.run("SELECT CAST(count(*) AS BIGINT) AS c, " +
            "CAST(coalesce(sum(order_id), 0) AS BIGINT) AS s " +
            "FROM soaksales.silver.soak_orders")
          res match {
            case Right(q) =>
              val pair = (q.rows.head.head.asInstanceOf[Long],
                q.rows.head(1).asInstanceOf[Long])
              assert(silverStates.contains(pair),
                s"TORN SILVER READ: $pair not a serialized state")
              silverReads.incrementAndGet()
            case Left(_) => transients.incrementAndGet() // table not yet there
          }
        } catch {
          // a torn-read assertion MUST fail the spec — TestFailedException
          // extends Exception, so a bare Exception case would silently
          // count a genuine violation as a transient (r10 advisor, medium)
          case tfe: org.scalatest.exceptions.TestFailedException => throw tfe
          case _: Exception => transients.incrementAndGet()
        }
      }
    }
    // reader B: layout rows — every SUCCESS must equal one serialized
    // prefix state exactly
    val rB = Future {
      while (!writersDone.get()) {
        try {
          graft.silver.BucketedTables.layout(
              spark, soakDir, "click_sessions", Seq("user_id")) match {
            case Some(t) =>
              val got = rows(t)
              assert(layoutStates.contains(got),
                s"TORN LAYOUT READ: ${got.size} rows matches no prefix " +
                  s"(prefix sizes: ${layoutStates.map(_.size)})")
              layoutReads.incrementAndGet()
            case None => transients.incrementAndGet()
          }
        } catch {
          // a torn-read assertion MUST fail the spec — TestFailedException
          // extends Exception, so a bare Exception case would silently
          // count a genuine violation as a transient (r10 advisor, medium)
          case tfe: org.scalatest.exceptions.TestFailedException => throw tfe
          case _: Exception => transients.incrementAndGet()
        }
      }
    }
    // reader C: cloned-conf queries — the parent conf must never move
    val rC = Future {
      while (!writersDone.get()) {
        val df = SparkEntry.withQueryConfsCloned(spark,
          "q141_overlap_join", "/root/testdata/sf0.001")
        assert(df.sparkSession.conf
          .get("spark.sql.adaptive.enabled") == "false")
        assert(spark.conf.get("spark.sql.adaptive.enabled") == parentAqe,
          "CONF CROSS-TALK: a clone's conf leaked into the parent")
        assert(df.limit(1).count() >= 0)
      }
    }

    try {
      scala.concurrent.Await.result(
        Future.sequence(Seq(w1, w2)),
        scala.concurrent.duration.Duration(300, "s"))
      writersDone.set(true)
      scala.concurrent.Await.result(
        Future.sequence(Seq(rA, rB, rC)),
        scala.concurrent.duration.Duration(300, "s"))
    } finally {
      writersDone.set(true)
      pool.shutdown()
    }

    // the readers actually exercised the race (not all transient)
    assert(silverReads.get() >= 5,
      s"too few successful silver reads (${silverReads.get()})")
    assert(layoutReads.get() >= 5,
      s"too few successful layout reads (${layoutReads.get()})")

    // serialized-execution equality at the end state
    val finalPair = {
      val q = lake.query.run("SELECT CAST(count(*) AS BIGINT) AS c, " +
        "CAST(sum(order_id) AS BIGINT) AS s FROM soaksales.silver.soak_orders")
        .toOption.get
      (q.rows.head.head.asInstanceOf[Long],
        q.rows.head(1).asInstanceOf[Long])
    }
    val allIds = (0 until nRounds).flatMap(ids)
    assert(finalPair == ((allIds.size.toLong, allIds.map(_.toLong).sum)))
    val layoutName = graft.silver.BucketedTables.layout(
      spark, soakDir, "click_sessions", Seq("user_id")).get
    assert(rows(layoutName) == layoutStates.last,
      "final layout != serialized one-shot sessionize")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == parentAqe)
    spark.sql("DROP TABLE IF EXISTS graft_bench.click_sessions_by_user_id")
    graft.silver.Upsert.deleteRecursively(java.nio.file.Paths.get(soakDir))
  }
}
