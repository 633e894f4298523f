package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Curation, TextOps, Temporal}

/** Property tests for the round-7 corpus operators beyond their oracle
  * rows: divergence axioms, collocation ranking, epoch-assembly mass,
  * decay closed form. */
class CorpusOpsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  test("sourceDivergence: KL >= 0, near-zero for identically-distributed " +
      "sources, JS symmetric and bounded by ln 2") {
    import spark.implicits._
    // a and b share one distribution; c is disjoint vocabulary
    val docs = Seq(
      (1L, "x y z x y z", "a"), (2L, "x y z x y z", "b"),
      (3L, "q r s q r s", "c"), (4L, "x y z x y z", "a"),
      (5L, "q r s q r s", "c")).toDF("doc_id", "text", "source")
    val out = TextOps.sourceDivergence(docs).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getDouble(2), r.getDouble(3)))).toMap
    // KL non-negative everywhere (Gibbs), within rounding slack
    assert(out.values.forall(_._1 >= -1e-5))
    // identically-distributed (not identical-size, so add-k smoothing
    // leaves a small residual): tiny divergence; disjoint: large
    assert(out(("a", "b"))._1 < 0.05 && out(("b", "a"))._1 < 0.05)
    assert(out(("a", "c"))._1 > 1.0)
    // JS symmetric and bounded by ln 2
    out.keys.foreach { case (x, y) =>
      assert(math.abs(out((x, y))._2 - out((y, x))._2) < 1e-5)
      assert(out((x, y))._2 <= math.log(2.0) + 1e-5)
    }
  }

  test("pmiBigrams ranks a planted collocation above stopword pairs") {
    import spark.implicits._
    // "hong kong" always co-occurs; "the" pairs with everything
    val base = "the cat the dog the bird the fish"
    val docs = (1L to 12L).map(i =>
      (i, s"$base hong kong item$i the end")).toDF("doc_id", "text")
    val out = TextOps.pmiBigrams(docs, k = 10, minCount = 5L).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getDouble(3)))
    val byPair = out.toMap
    assert(byPair.contains(("hong", "kong")))
    val stopPairs = out.filter(_._1._1 == "the").map(_._2)
    assert(stopPairs.forall(_ < byPair(("hong", "kong"))),
      "collocation must outrank every stopword pair")
  }

  test("assembleEpoch: copy counts bracket rate and repeat docs when " +
      "rate > 1") {
    import spark.implicits._
    // tiny source -> upsampled above 1 by the alpha<1 mixture
    val docs = ((1L to 50L).map(i => (i, ("w " * 40).trim, "big")) ++
      Seq((101L, ("w " * 40).trim, "small")))
      .toDF("doc_id", "text", "source")
    val rates = Curation.temperatureMixture(docs, col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long"),
        alpha = 0.5, budget = 4000L)
      .collect().map(r => r.getString(0) -> r.getDouble(4)).toMap
    val epoch = Curation.assembleEpoch(docs, col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long"),
        alpha = 0.5, budget = 4000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val copies = epoch.groupBy(_._1).view.mapValues(_.map(_._3).max).toMap
    // every emitted doc has copies in {floor(r), floor(r)+1}
    docs.collect().foreach { row =>
      val (id, src) = (row.getLong(0), row.getString(2))
      val r = rates(src)
      val c = copies.getOrElse(id, 0L)
      assert(c == math.floor(r).toLong || c == math.floor(r).toLong + 1,
        s"doc $id: $c copies for rate $r")
    }
    // the upsampled small source must actually repeat
    assert(rates("small") > 1.0)
    assert(copies(101L) >= math.floor(rates("small")).toLong)
    // copy indices are dense 1..n
    epoch.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
  }

  test("exactLongQuantiles equals local-sort ranks across negative, " +
      "duplicated and wide-magnitude domains") {
    import spark.implicits._
    // deterministic tricky fixture: dupes, negatives, ±2^40 outliers
    val values: Seq[Long] =
      (1 to 500).map(i => ((i * 2654435761L) % 1000) - 500) ++
        Seq.fill(50)(42L) ++ Seq(-(1L << 40), 1L << 40)
    val df = values.toDF("x").repartition(7)
    // 0.07 is the adversarial rank case: math.ceil(0.07 * n) overshoots
    // in IEEE double (ceil(7.000000000000001) = 8 at n=100) — the rank
    // must be computed in decimal to match quantile_disc
    val qs = Seq(0.01, 0.07, 0.25, 0.5, 0.9, 1.0)
    val got = graft.ops.Quantile.exactLongQuantiles(df, col("x"), qs)
    val sorted = values.sorted
    qs.zip(got).foreach { case (q, (qq, k, v)) =>
      assert(qq == q)
      val expectK = math.max(1L, (BigDecimal(q.toString) * values.size)
        .setScale(0, BigDecimal.RoundingMode.CEILING).toLong)
      assert(k == expectK)
      assert(v == sorted((expectK - 1).toInt),
        s"q=$q: got $v, want ${sorted((expectK - 1).toInt)}")
    }
  }

  test("exactGroupedQuantile: every group's median equals its local " +
      "sort rank, groups converging at different rounds") {
    import spark.implicits._
    // groups with wildly different domains: tight, wide, singleton
    val rows: Seq[(String, Long)] =
      (1 to 101).map(i => ("tight", (i % 7).toLong)) ++
        (1 to 100).map(i => ("wide", i * 1234567891L - 50L * 1234567891L)) ++
        Seq(("single", 99L))
    val df = rows.toDF("grp", "x").repartition(5)
    val got = graft.ops.Quantile
      .exactGroupedQuantile(df, col("grp"), col("x"), q = 0.5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val k = math.max(1L, math.ceil(0.5 * sorted.size).toLong)
      assert(got(g) == ((sorted.size.toLong, k, sorted((k - 1).toInt))),
        s"group $g")
    }
  }

  test("bucketize == NTILE on a unique total order (including n < k " +
      "and boundary-adjacent ranks), in a BOUNDED number of jobs") {
    import spark.implicits._
    def ntileRef(n: Int, k: Int): Seq[Int] = {
      // SQL-standard NTILE: first (n mod k) buckets get ceil(n/k) rows
      val big = n / k + 1; val small = n / k; val r = n % k
      (1 to n).map { i =>
        if (i <= r * big) (i - 1) / big + 1
        else r + (i - r * big - 1) / math.max(small, 1) + 1
      }
    }
    for ((n, k) <- Seq((100, 10), (101, 7), (3, 8), (4096, 3), (17, 17))) {
      // unique, shuffled, negative-spanning domain
      val values = (1 to n).map(i => ((i * 2654435761L) % 100000) - 50000)
        .distinct
      val m = values.size
      val df = values.toDF("x").repartition(5)
      val jobs0 = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
        .length
      val got = graft.ops.Quantile.bucketize(df, col("x"), k)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
        .length - jobs0
      // one count/min/max agg + ≤ ⌈64/13⌉+1 shared bisection rounds
      // (+ the test's collect, + AQE's per-stage job splits, measured
      // ~12): ALL k−1 boundaries must share each round's pass — the
      // unshared alternative costs ≥ 2·(k−1) jobs (32+ at k=17)
      assert(jobs <= 15,
        s"n=$m k=$k: bucketize ran $jobs jobs — boundaries not sharing " +
          "bisection passes")
      val ref = values.sorted.zip(ntileRef(m, k)).toMap
      values.foreach(v => assert(got(v) == ref(v),
        s"n=$m k=$k value=$v: got ${got(v)}, want ${ref(v)}"))
    }
  }

  test("bucketizeGrouped == per-group NTILE (skewed group sizes, " +
      "singleton groups, n < k), all groups sharing bisection passes") {
    import spark.implicits._
    def ntileRef(n: Int, k: Int): Seq[Int] = {
      val big = n / k + 1; val small = n / k; val r = n % k
      (1 to n).map { i =>
        if (i <= r * big) (i - 1) / big + 1
        else r + (i - r * big - 1) / math.max(small, 1) + 1
      }
    }
    val k = 5
    // group sizes spanning three decades + n<k + singleton; unique
    // per-group values with overlapping ranges across groups
    val rows: Seq[(String, Long)] =
      (1 to 2000).map(i => ("big", i * 7L - 7000)) ++
        (1 to 83).map(i => ("mid", i * 13L)) ++
        (1 to 3).map(i => ("tiny", i * 1000L)) ++
        Seq(("single", -5L))
    val df = rows.toDF("grp", "x").repartition(5)
    val jobs0 = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
      .length
    val got = graft.ops.Quantile
      .bucketizeGrouped(df, col("grp"), col("x"), k)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val jobs = spark.sparkContext.statusTracker.getJobIdsForGroup(null)
      .length - jobs0
    assert(jobs <= 15,
      s"bucketizeGrouped ran $jobs jobs — groups/boundaries not " +
        "sharing bisection passes")
    rows.groupBy(_._1).foreach { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val ref = sorted.zip(ntileRef(sorted.size, k)).toMap
      sorted.foreach(v => assert(got((g, v)) == ref(v),
        s"group $g value $v: got ${got((g, v))}, want ${ref(v)}"))
    }
    // driver-state bound fails loud, not OOM
    val wide = (1 to 3000).map(i => (s"g$i", i.toLong)).toDF("grp", "x")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Quantile.bucketizeGrouped(wide, col("grp"), col("x"), 5)
    }
    assert(ex.getMessage.contains("bound"))
  }

  test("bucketize/bucketizeGrouped enforce the unique non-null " +
      "contract loudly (r14 advisor: silent bucket-1 nulls, silent " +
      "tie divergence)") {
    import spark.implicits._
    // duplicate value → loud, names the tie problem
    val dup = Seq(1L, 2L, 2L, 3L).toDF("x")
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.Quantile.bucketize(dup, col("x"), 2)
    }
    assert(e1.getMessage.contains("unique"))
    // null value → loud, not silently bucket 1
    val withNull = Seq(Some(1L), None, Some(3L)).toDF("x")
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Quantile.bucketize(withNull, col("x"), 2)
    }
    assert(e2.getMessage.contains("non-null"))
    // grouped: per-group duplicate → loud with the group named
    val gdup = Seq(("a", 1L), ("a", 1L), ("b", 2L)).toDF("grp", "x")
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.Quantile.bucketizeGrouped(gdup, col("grp"), col("x"), 2)
    }
    assert(e3.getMessage.contains("group a") &&
      e3.getMessage.contains("distinct"))
    // grouped: null value inside a group → loud
    val gnull = Seq(("a", Some(1L)), ("a", None)).toDF("grp", "x")
    val e4 = intercept[IllegalArgumentException] {
      graft.ops.Quantile.bucketizeGrouped(gnull, col("grp"), col("x"), 2)
    }
    assert(e4.getMessage.contains("null values"))
    // grouped: null GROUP → loud, not a silent null bucket
    val gnullg = Seq((Option.empty[String], 1L), (Some("b"), 2L))
      .toDF("grp", "x")
    val e5 = intercept[IllegalArgumentException] {
      graft.ops.Quantile.bucketizeGrouped(gnullg, col("grp"), col("x"), 2)
    }
    assert(e5.getMessage.contains("group must be non-null"))
  }

  test("exactGroupedQuantile: rejects group cardinality beyond the " +
      "driver-state bound with a clear error, not an OOM") {
    import spark.implicits._
    val df = (1 to 4097).map(i => (s"g$i", i.toLong)).toDF("grp", "x")
    val ex = intercept[IllegalArgumentException] {
      graft.ops.Quantile.exactGroupedQuantile(df, col("grp"), col("x"),
        q = 0.5)
    }
    assert(ex.getMessage.contains("percentile_approx"))
  }

  test("pageRank: mass conserved, hub outranks leaves, partitioning-" +
      "independent") {
    import spark.implicits._
    // star with one hub (0) plus a detached triangle (10,11,12)
    val und = Seq((0L, 1L, 1L), (0L, 2L, 1L), (0L, 3L, 1L), (0L, 4L, 1L),
      (10L, 11L, 1L), (11L, 12L, 1L), (10L, 12L, 1L))
    val edges = (und ++ und.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    val out = graft.ops.Graph.pageRank(edges, iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.size == 8)
    // total mass stays ~1 (rounding drifts at most n ulps of 1e-9)
    assert(math.abs(out.values.sum - 1.0) < 1e-6)
    // the hub holds more rank than any of its leaves
    assert(Seq(1L, 2L, 3L, 4L).forall(l => out(0L) > out(l)))
    // symmetric triangle nodes are equal by symmetry
    assert(out(10L) == out(11L) && out(11L) == out(12L))
    // input partitioning must not change a single scaled rank
    val out2 = graft.ops.Graph.pageRank(edges.repartition(7), iters = 20)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out2 == out)
  }

  test("pageRank: bounded driver fast path ≡ distributed rounds, " +
      "bit-for-bit, long and string ids") {
    import spark.implicits._
    // seeded pseudo-random weighted graph, dense enough that per-edge
    // contributions sweep many fractional values (near-tie rounding
    // coverage); weights span 1..1e6 like the scaled-jaccard callers
    val rnd = new scala.util.Random(20260815L)
    val und = (0 until 300).map { _ =>
      val a = rnd.nextInt(40).toLong
      val b = (a + 1 + rnd.nextInt(39)) % 40
      (a, b, 1L + rnd.nextInt(1000000).toLong)
    }.distinct
    val edges = (und ++ und.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    val fast = graft.ops.Graph.pageRank(edges, iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driverEdgeLimit = 0 forces the distributed rounds on the same input
    val dist = graft.ops.Graph.pageRank(edges, iters = 10,
        driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast == dist,
      s"driver and distributed trajectories diverged: " +
        s"${(fast.toSet -- dist.toSet).take(3)} vs ${(dist.toSet -- fast.toSet).take(3)}")
    // opaque (string) node ids take the fast path too, same schema out
    val sEdges = edges.select(
      concat(lit("d"), col("src")).as("src"),
      concat(lit("d"), col("dst")).as("dst"), col("w"))
    val sFast = graft.ops.Graph.pageRank(sEdges, iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val sDist = graft.ops.Graph.pageRank(sEdges, iters = 5,
        driverEdgeLimit = 0)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(sFast == sDist)
    assert(sFast.keySet == fast.keySet.map("d" + _))
    // sign-aware rounding: HALF_UP is away-from-zero, so negative
    // contributions (legal — the public contract does not require
    // non-negative weights) must round identically in both paths. A
    // heavy positive ring guarantees every src's out-weight total stays
    // strictly positive (1e9 ring vs ≤ ~1.5e7 of negated mass per src),
    // so no division degenerates.
    val ring = (0L until 40L).map(i => (i, (i + 1) % 40, 1000000000L))
    val mixedUnd = und.zipWithIndex.map { case ((a, b, w), i) =>
      (a, b, if (i % 5 == 0) -w else w) } ++ ring
    val mixed = (mixedUnd ++ mixedUnd.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    val mFast = graft.ops.Graph.pageRank(mixed, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val mDist = graft.ops.Graph.pageRank(mixed, iters = 6,
        driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(mFast == mDist,
      "negative-weight trajectories diverged between paths")
  }

  test("pageRank: NULL-weight edges drop identically on both paths") {
    import spark.implicits._
    // a null-w edge carries no rank mass: it must neither NPE the driver
    // fast path (r9 advisor) nor perturb either trajectory — the result
    // equals the same graph with the null edges absent. Node 9 appears
    // ONLY via null edges, so it must vanish from the output entirely.
    val live = Seq((0L, 1L, Some(3L)), (1L, 0L, Some(3L)),
      (1L, 2L, Some(2L)), (2L, 1L, Some(2L)))
    val nulls = Seq((0L, 9L, None: Option[Long]), (9L, 0L, None),
      (2L, 0L, None))
    val edges = (live ++ nulls).toDF("src", "dst", "w")
    val fast = graft.ops.Graph.pageRank(edges, iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dist = graft.ops.Graph.pageRank(edges, iters = 8,
        driverEdgeLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val clean = graft.ops.Graph.pageRank(live.toDF("src", "dst", "w"),
        iters = 8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast == dist, "null-weight trajectories diverged between paths")
    assert(fast == clean, "null edges changed the trajectory")
    assert(!fast.contains(9L), "a null-only node survived")
  }

  test("triangleCounts: exact counts on known shapes, duplicate/reversed " +
      "edges tolerated") {
    import spark.implicits._
    // K4 on 1..4 (every node in C(3,2)=3 triangles) + one pendant node
    // + a duplicate and a reversed edge that must not double-count
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (2L, 1L), (1L, 2L)).toDF("a", "b")
    val out = graft.ops.Graph.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L),
      s"K4 corners must each sit in 3 triangles: $out")
  }

  test("ksPairwise: 0 for identical distributions, 1 for disjoint, " +
      "hand-computed for a known shift") {
    import spark.implicits._
    val rows =
      (1 to 10).map(i => ("a", i.toLong)) ++
        (1 to 10).map(i => ("b", i.toLong)) ++        // identical to a
        (1 to 10).map(i => ("c", i + 100L)) ++        // disjoint from a
        (1 to 10).map(i => ("d", i + 5L))             // half-shifted vs a
    val out = graft.ops.Diagnostics
      .ksPairwise(rows.toDF("g", "v"), col("g"), col("v"))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(4)).toMap
    assert(out(("a", "b")) == 0.0)
    assert(out(("a", "c")) == 1.0)
    // a: 1..10, d: 6..15 → max gap at x=5: F_a=0.5, F_d=0 → D=0.5
    assert(out(("a", "d")) == 0.5)
  }

  test("decayedAggregate matches the closed form on a hand-built fixture") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def at(hours: Double) =
      new java.sql.Timestamp(t0.getTime + (hours * 3600 * 1000).toLong)
    val events = Seq(
      (1L, at(0.0), 100.0),   // age 12h at tmax -> weight 2^-2 = 0.25
      (1L, at(6.0), 100.0),   // age 6h -> 0.5
      (1L, at(12.0), 100.0),  // age 0 -> 1.0
      (2L, at(12.0), 40.0)).toDF("user_id", "ts", "value")
    val out = Temporal.decayedAggregate(events, col("user_id"), col("ts"),
        col("value"), halfLifeHours = 6.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(out(1L)._1 == 3L)
    assert(math.abs(out(1L)._2 - (25.0 + 50.0 + 100.0)) < 1e-6)
    assert(math.abs(out(2L)._2 - 40.0) < 1e-6)
  }
}
