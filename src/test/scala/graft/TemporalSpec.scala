package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{DedupOps, Temporal, TextOps}

/** Tests for the temporal operators (as-of join, sessionization), the
  * connected-components clustering, and the BM25 / n-gram text ops —
  * semantics checked against naive reference formulations on fixtures.
  */
class TemporalSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("asofBackward picks the most recent strictly-earlier right row per key") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 12:00:00")),
      (3L, 20L, ts("2024-01-01 09:00:00"))) // key 20 has no prior right row
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (100L, 10L, ts("2024-01-01 09:30:00")),
      (101L, 10L, ts("2024-01-01 11:59:59")),
      (102L, 10L, ts("2024-01-01 12:00:00")), // equal ts: strict < excludes
      (103L, 20L, ts("2024-01-01 09:30:00"))) // after left's 09:00
      .toDF("v_id", "user_id", "ts")
    val out = Temporal.asofBackward(left, right, Seq("user_id"),
        leftTs = "ts", rightTs = "ts", tieCol = "v_id",
        rightVals = Seq("v_id"))
      .select($"event_id", $"asof_v_id")
      .as[(Long, Option[Long])].collect().toMap
    assert(out(1L) == Some(100L))
    assert(out(2L) == Some(101L)) // NOT 102 (equal ts is not earlier)
    assert(out(3L) == None)
  }

  test("asofBackward matches the naive inequality-join argmax on real data") {
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("v_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val fast = Temporal.asofBackward(purchases, views, Seq("user_id"),
      "ts", "ts", "v_id", Seq("v_id"))
    // naive: range join + max(ts), tie-break max v_id — O(n·m) per key
    val naive = purchases.as("p").join(views.as("v"),
        col("p.user_id") === col("v.user_id") && col("v.ts") < col("p.ts"),
        "left")
      .groupBy(col("p.event_id").as("event_id"))
      .agg(max(struct(col("v.ts"), col("v.v_id"))).as("m"))
      .select(col("event_id"), col("m.v_id").as("naive_v_id"))
    val diff = fast.join(naive, "event_id")
      .filter(coalesce(col("asof_v_id"), lit(-1L)) =!=
        coalesce(col("naive_v_id"), lit(-1L)))
    assert(diff.count() == 0)
  }

  test("sessionize splits on gaps greater than the threshold") {
    import spark.implicits._
    val ev = Seq(
      (1L, 1L, ts("2024-01-01 10:00:00")),
      (2L, 1L, ts("2024-01-01 10:10:00")), // same session (10 min)
      (3L, 1L, ts("2024-01-01 11:00:00")), // new session (50 min gap)
      (4L, 2L, ts("2024-01-01 10:00:00"))) // other user
      .toDF("event_id", "user_id", "ts")
    val s = Temporal.sessionize(ev, "user_id", "ts", "event_id", 1800L)
      .select($"event_id", $"session_idx").as[(Long, Long)].collect().toMap
    assert(s(1L) == 1L && s(2L) == 1L && s(3L) == 2L && s(4L) == 1L)
  }

  test("connectedComponents labels chains and singletons correctly — " +
      "driver union-find and iterative paths agree") {
    import spark.implicits._
    val nodes = (1L to 7L).toDF("id")
    // chain 1-2-3, pair 5-6, singletons 4 and 7
    val edges = Seq((2L, 1L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L,
      5L -> 5L, 6L -> 5L, 7L -> 7L)
    // default: the bounded driver union-find fast path
    val fast = DedupOps.connectedComponents(nodes, edges)
      .as[(Long, Long)].collect().toMap
    assert(fast == expected)
    // driverEdgeLimit = 0 forces the distributed iteration — identical
    // fixpoint
    val iterative = DedupOps.connectedComponents(nodes, edges,
        driverEdgeLimit = 0)
      .as[(Long, Long)].collect().toMap
    assert(iterative == expected)
  }

  test("both connectedComponents paths agree on the real near-dup graph") {
    val docs = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
    val pairs = DedupOps.nearDuplicates(docs).select(col("a"), col("b"))
      .localCheckpoint()
    val nodes = docs.select(col("doc_id").as("id"))
    val fast = DedupOps.connectedComponents(nodes, pairs)
      .orderBy("id").collect().toSeq
    val iterative = DedupOps.connectedComponents(nodes, pairs,
        driverEdgeLimit = 0)
      .orderBy("id").collect().toSeq
    assert(fast.nonEmpty && fast == iterative)
  }

  test("connectedComponents uses a RELIABLE checkpoint when a checkpoint " +
      "dir is configured (cluster durability: survives executor loss)") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-cc-ckpt-").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val nodes = (1L to 6L).toDF("id")
      val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("a", "b")
      // driverEdgeLimit = 0: this test proves the ITERATIVE path's
      // staging primitive goes reliable when a checkpoint dir is set
      val comps = DedupOps.connectedComponents(nodes, edges,
          driverEdgeLimit = 0)
        .as[(Long, Long)].collect().toMap
      assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
        4L -> 4L, 5L -> 4L, 6L -> 6L))
      // the iteration's staged frames must live in the reliable dir, not
      // executor-local blocks
      val staged = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(staged > 0, "no files in the reliable checkpoint dir — " +
        "Stage fell back to localCheckpoint despite a configured dir")
    } finally {
      // reset to executor-local staging so later suites in this fork keep
      // the fast path (Option(null) clears the dir)
      spark.sparkContext.setCheckpointDir(null)
      scala.util.Try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
          .iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      }
    }
  }

  test("bm25 scores more term-frequent docs higher, zero-term docs absent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "table table table row"),
      (2L, "table row scan merge"),
      (3L, "scan row scan value"))
      .toDF("doc_id", "text")
    val scores = TextOps.bm25(docs, Seq("table", "merge"))
      .as[(Long, Double)].collect().toMap
    assert(scores.contains(1L) && scores.contains(2L) && !scores.contains(3L))
    assert(scores(1L) > 0 && scores(2L) > 0)
    // doc 2 hits both terms; doc 1 only 'table' but with tf=3
    assert(scores(2L) > scores(1L))
  }

  test("rangeJoin matches the naive inequality join on real data") {
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        graft.functions.Dialect.tsUs(col("ts")).as("w_start"),
        (graft.functions.Dialect.tsUs(col("ts")) + 600000000L).as("w_end"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        graft.functions.Dialect.tsUs(col("ts")).as("c_us"))
    val fast = Temporal.rangeJoin(clicks, errors, Seq("user_id"),
        "c_us", "w_start", "w_end", bucketUs = 600000000L)
      .select(col("click_id"), col("error_id"))
    val naive = clicks.as("c").join(errors.as("e"),
        col("c.user_id") === col("e.user_id") &&
        col("c.c_us") >= col("e.w_start") && col("c.c_us") < col("e.w_end"))
      .select(col("click_id"), col("error_id"))
    assert(fast.count() == naive.count())
    assert(fast.except(naive).count() == 0 && naive.except(fast).count() == 0)
    // bucket width much smaller than the interval (intervals replicate to
    // ~11 buckets) and much larger (most intervals in one bucket) — the
    // result must be identical for ANY bucket size
    Seq(60000000L, 3600000000L).foreach { b =>
      val alt = Temporal.rangeJoin(clicks, errors, Seq("user_id"),
          "c_us", "w_start", "w_end", bucketUs = b)
        .select(col("click_id"), col("error_id"))
      assert(alt.except(naive).count() == 0 && naive.except(alt).count() == 0,
        s"rangeJoin diverged at bucketUs=$b")
    }
  }

  test("overlapJoin matches the naive inequality join, once per pair, " +
      "for any bucket size") {
    val us = graft.functions.Dialect.tsUs _
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
    // left: per-user purchase intervals (prev purchase -> purchase);
    // right: 10-min error windows — genuinely variable-length intervals
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), us(col("ts")).as("p_end"),
        lag(us(col("ts")), 1).over(w).as("p_start"))
      .filter(col("p_start").isNotNull)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        us(col("ts")).as("e_start"),
        (us(col("ts")) + 600000000L).as("e_end"))
    val naive = purch.as("p").join(errors.as("e"),
        col("p.user_id") === col("e.user_id") &&
        col("p_start") <= col("e_end") && col("e_start") <= col("p_end"))
      .select(col("p_id"), col("error_id"))
    assert(naive.count() > 0, "fixture must produce overlaps")
    Seq(60000000L, 600000000L, 3600000000L).foreach { b =>
      val fast = Temporal.overlapJoin(purch, errors, Seq("user_id"),
          "p_start", "p_end", "e_start", "e_end", bucketUs = b)
        .select(col("p_id"), col("error_id"))
      // exact same pair MULTISET: exactly-once emission, no dedup pass
      assert(fast.count() == naive.count(), s"pair count diverged at b=$b")
      assert(fast.except(naive).count() == 0
        && naive.except(fast).count() == 0, s"pair set diverged at b=$b")
    }
  }

  test("overlapCount equals naive per-left overlap counts incl. zero, " +
      "for any bucket size") {
    val us = graft.functions.Dialect.tsUs _
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), us(col("ts")).as("p_end"),
        lag(us(col("ts")), 1).over(w).as("p_start"))
      .filter(col("p_start").isNotNull)
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("error_id"), col("user_id"),
        us(col("ts")).as("e_start"),
        (us(col("ts")) + 600000000L).as("e_end"))
    // naive: LEFT join on key + inequalities, count matches per left row
    val naive = purch.as("p").join(errors.as("e"),
        col("p.user_id") === col("e.user_id") &&
        col("p_start") <= col("e_end") && col("e_start") <= col("p_end"),
        "left_outer")
      .groupBy(col("p_id")).agg(count(col("error_id")).as("n_overlap"))
    assert(naive.filter(col("n_overlap") === 0).count() > 0 &&
      naive.filter(col("n_overlap") > 0).count() > 0,
      "fixture must exercise both zero and non-zero counts")
    Seq(60000000L, 600000000L, 3600000000L).foreach { b =>
      val fast = Temporal.overlapCount(purch, errors, Seq("user_id"),
          "p_start", "p_end", "e_start", "e_end", bucketUs = b)
        .select(col("p_id"), col("n_overlap"))
      assert(fast.count() == naive.count(), s"left row count diverged at b=$b")
      assert(fast.except(naive).count() == 0
        && naive.except(fast).count() == 0, s"counts diverged at b=$b")
    }
    // the selective-key form (no buckets) computes the same counts
    val keyed = Temporal.overlapCountKeyed(purch, errors, Seq("user_id"),
        "p_start", "p_end", "e_start", "e_end")
      .select(col("p_id"), col("n_overlap"))
    assert(keyed.count() == naive.count(), "keyed left row count diverged")
    assert(keyed.except(naive).count() == 0
      && naive.except(keyed).count() == 0, "keyed counts diverged")
  }

  test("kmeansRefine reduces inertia and is partition-independent") {
    import graft.ops.VectorOps
    val emb = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "embeddings")
    val seedInertia = VectorOps.kmeansRefine(emb, nCells = 8, iters = 0)
      .agg(sum(col("dist2"))).head.getDouble(0)
    val refined = VectorOps.kmeansRefine(emb, nCells = 8, iters = 2)
    val refinedInertia = refined.agg(sum(col("dist2"))).head.getDouble(0)
    assert(refinedInertia <= seedInertia)
    assert(refined.count() == emb.count()) // every vector assigned once
    // bit-identical result regardless of input partitioning
    val again = VectorOps.kmeansRefine(emb.repartition(7), nCells = 8, iters = 2)
    assert(refined.except(again).count() == 0 &&
      again.except(refined).count() == 0)
  }

  test("topNgrams counts bigrams with deterministic ordering") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b"),
      (2L, "a b c"),
      (3L, "x")) // too short for bigrams
      .toDF("doc_id", "text")
    val top = TextOps.topNgrams(docs, n = 2, k = 10)
      .as[(String, Long)].collect().toList
    assert(top.head == ("a b", 3L))
    assert(top.toMap == Map("a b" -> 3L, "b a" -> 1L, "b c" -> 1L))
  }
}
