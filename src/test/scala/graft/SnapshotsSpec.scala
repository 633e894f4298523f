package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.silver.Snapshots

class SnapshotsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private def tmp() = Files.createTempDirectory("snap-").toString + "/t"

  test("commit/readVersion: every version stays readable (time travel)") {
    import spark.implicits._
    val table = tmp()
    val v0 = Snapshots.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), table)
    val v1 = Snapshots.commitMerged(Seq((2L, "B"), (3L, "c")).toDF("id", "s"),
      table, keys = Seq("id"))
    assert(v0 == 0 && v1 == 1)
    val at0 = Snapshots.readVersion(spark, table, 0).as[(Long, String)]
      .collect().toSet
    val at1 = Snapshots.readVersion(spark, table, 1).as[(Long, String)]
      .collect().toSet
    assert(at0 == Set((1L, "a"), (2L, "b")))
    assert(at1 == Set((1L, "a"), (2L, "B"), (3L, "c"))) // source wins on key
    assert(Snapshots.read(spark, table).count() == 3)
  }

  test("rollback re-commits an old version; vacuum keeps the newest N") {
    import spark.implicits._
    val table = tmp()
    Snapshots.commit(Seq((1L, "a")).toDF("id", "s"), table)
    Snapshots.commit(Seq((1L, "WRONG")).toDF("id", "s"), table)
    val v2 = Snapshots.rollback(spark, table, 0)
    assert(v2 == 2)
    assert(Snapshots.read(spark, table).as[(Long, String)].collect()
      .toSet == Set((1L, "a")))
    assert(Snapshots.versions(table) == Seq(0L, 1L, 2L))
    Snapshots.vacuum(table, keep = 1)
    assert(Snapshots.versions(table) == Seq(2L))
    assert(Snapshots.read(spark, table).count() == 1)
    intercept[IllegalArgumentException] {
      Snapshots.readVersion(spark, table, 0)
    }
  }

  test("changes() tags inserts, updates, deletes; unchanged rows absent") {
    import spark.implicits._
    val table = tmp()
    Snapshots.commit(
      Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("id", "s"), table)
    Snapshots.commit(
      Seq((1L, "same"), (2L, "new"), (4L, "fresh")).toDF("id", "s"), table)
    val ch = Snapshots.changes(spark, table, 0L, 1L, Seq("id"))
      .select("id", "op").as[(Long, String)].collect().toSet
    assert(ch == Set((2L, "update"), (3L, "delete"), (4L, "insert")))
  }

  test("bucket-scoped commitMerged: a narrow batch writes only its " +
      "key-hash buckets, links the rest from the previous version, " +
      "equals the full merge at every version, and vacuum keeps " +
      "linked content alive") {
    import spark.implicits._
    import java.nio.file.Paths
    val table = tmp()
    def rows(v: Long): Set[(Long, String)] =
      Snapshots.readVersion(spark, table, v).as[(Long, String)]
        .collect().toSet
    def names(v: Long): Map[Int, Set[String]] =
      Snapshots.bucketFilesIn(Paths.get(table, f"_v$v%06d"))
        .map { case (b, ps) => b -> ps.map(_.getFileName.toString).toSet }
    val base = (1L to 800L).map(i => (i, s"v$i"))
    // v0 via plain commit (unbucketed) -> v1 upgrades to the bucketed
    // layout via the full-rewrite fallback
    Snapshots.commit(base.toDF("id", "s"), table)
    val b1 = Seq((5L, "u5"), (9001L, "n1"))
    Snapshots.commitMerged(b1.toDF("id", "s"), table, Seq("id"))
    // v2: a narrow batch against the now-bucketed v1 — scoped
    val b2 = Seq((7L, "u7"), (9002L, "n2"))
    Snapshots.commitMerged(b2.toDF("id", "s"), table, Seq("id"))
    // serialized expectation per version
    val m1 = base.toMap ++ b1.toMap
    val m2 = m1 ++ b2.toMap
    assert(rows(0) == base.toSet)
    assert(rows(1) == m1.toSet.map((kv: (Long, String)) => kv))
    assert(rows(2) == m2.toSet.map((kv: (Long, String)) => kv))
    // v2 carried v1's untouched bucket FILES by name (hard links)
    val expectTouched = b2.map(_._1).toDF("id")
      .select(org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.hash(
          org.apache.spark.sql.functions.col("id")),
        org.apache.spark.sql.functions.lit(32)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val n1 = names(1); val n2 = names(2)
    assert(n1.keySet.exists(!expectTouched(_)), "degenerate fixture")
    for ((b, nm) <- n1 if !expectTouched(b))
      assert(n2.get(b).contains(nm), s"untouched snapshot bucket $b rewritten")
    for ((b, nm) <- n1 if expectTouched(b))
      assert(!n2.get(b).contains(nm), s"touched snapshot bucket $b kept its file")
    // vacuum away v0 and v1: v2 must stay fully readable (links hold
    // the shared inodes) and exactly equal to the serialized state
    Snapshots.vacuum(table, keep = 1)
    assert(Snapshots.versions(table) == Seq(2L))
    assert(rows(2) == m2.toSet.map((kv: (Long, String)) => kv))
    // schema evolution falls back to a full (bucketed) rewrite
    Snapshots.commitMerged(
      Seq((3L, "w3", 1.5)).toDF("id", "s", "score"), table, Seq("id"))
    val t3 = Snapshots.read(spark, table)
    assert(t3.columns.toSet == Set("id", "s", "score"))
    assert(t3.count() == m2.size)
    assert(t3.filter(org.apache.spark.sql.functions.col("id") === 3L)
      .head().getDouble(2) == 1.5)
  }

  test("readers race bucket-scoped snapshot commits: the pointer " +
      "protocol serves only committed versions, every read equals a " +
      "serialized prefix state", Slow) {
    import spark.implicits._
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    val table = tmp()
    val base = (1L to 500L).map(i => (i, s"v$i"))
    Snapshots.commit(base.toDF("id", "s"), table)
    val batches = (1 to 8).map(i =>
      Seq((i * 31L, s"u$i"), (1000L + i, s"n$i")))
    val prefixes: Seq[Set[(Long, String)]] =
      batches.scanLeft(base.toMap)((cur, b) => cur ++ b.toMap)
        .map(_.toSet)
    val done = new AtomicBoolean(false)
    val reads = new AtomicInteger(0)
    val transients = new AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.Future
    val writer = Future {
      batches.foreach(b =>
        Snapshots.commitMerged(b.toDF("id", "s"), table, Seq("id")))
    }
    val reader = Future {
      while (!done.get() || reads.get() < 5) {
        try {
          val got = Snapshots.read(spark, table).as[(Long, String)]
            .collect().toSet
          assert(prefixes.contains(got),
            s"TORN SNAPSHOT READ: ${got.size} rows matches no prefix")
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
    } finally { done.set(true); pool.shutdown() }
    assert(reads.get() >= 5, s"too few successful reads (${reads.get()})")
    assert(Snapshots.read(spark, table).as[(Long, String)]
      .collect().toSet == prefixes.last)
    // immutable-version invariant survived the race: every version is
    // still the serialized state it committed as
    Snapshots.versions(table).foreach { v =>
      assert(Snapshots.readVersion(spark, table, v)
        .as[(Long, String)].collect().toSet == prefixes(v.toInt))
    }
  }
}
