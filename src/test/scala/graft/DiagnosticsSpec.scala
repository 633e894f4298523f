package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Curation, DedupOps, Diagnostics, TextOps}
import graft.sources.Tables

/** Skew diagnosis, mixture resampling, shingle novelty and term search:
  * semantics against local references plus the plan shapes the oracle
  * hash can't see (distributed top-k, no corpus-wide exchanges where the
  * scaladoc promises none). */
class DiagnosticsSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = TestSpark.session

  test("skewDiagnosis reports counts, shares and ceil-skew salt") {
    import spark.implicits._
    // key a: 6 rows, b: 2, c: 1 → total 9, 3 keys, mean 3
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq("c")).toDF("k")
    val got = Diagnostics.skewDiagnosis(df, col("k"), topN = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(3),
        r.getLong(4)))
    assert(got.length == 2)
    assert(got(0) == ("a", 6L, 2.0, 2L)) // skew 6*3/9 = 2.0
    assert(got(1) == ("b", 2L, 2.0 / 3, 1L))
  }

  test("skewDiagnosis top-k is a distributed TakeOrderedAndProject") {
    val orders = Tables.load(spark, dir, "orders")
    val plan = Diagnostics.skewDiagnosis(orders, col("o_custkey"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected distributed top-k, got:\n$plan")
  }

  test("distributionDrift: identical mixes drift 0, disjoint mixes " +
      "drift 1, one-sided buckets fully charged") {
    import spark.implicits._
    def tv(base: Seq[Int], cand: Seq[Int]): Double =
      Diagnostics.distributionDrift(base.toDF("b"), cand.toDF("b"), col("b"))
        .agg(sum(col("tv_contrib"))).collect()(0).getDouble(0)
    assert(tv(Seq(1, 1, 2), Seq(1, 1, 2)) == 0.0)
    assert(tv(Seq(1, 1), Seq(2, 2)) == 1.0)
    // base {1:2/3, 2:1/3}, cand {1:1/2, 3:1/2}:
    // TV = (|2/3-1/2| + |1/3-0| + |0-1/2|) / 2 = 1/2
    assert(math.abs(tv(Seq(1, 1, 2), Seq(1, 3)) - 0.5) < 1e-15)
    val out = Diagnostics.distributionDrift(
        Seq(1L, 1L, 2L).toDF("b"), Seq(1L, 3L).toDF("b"), col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L, 1L), (2L, 1L, 0L), (3L, 0L, 1L)),
      "buckets missing on one side must appear with count 0")
  }

  test("distributionDrift: per-side histograms partial-aggregate " +
      "map-side; corpora are never joined row-wise") {
    val docs = Tables.load(spark, dir, "documents")
    val plan = Diagnostics.distributionDrift(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        floor(col("n_chars") / 200).cast("long"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count"),
      s"histograms must combine map-side before any exchange:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"drift must not cartesian the corpora:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 1,
      s"only the 1-row totals may attach via a broadcast cross:\n$plan")
  }

  test("mixtureResample keeps every row of the constrained stratum and " +
      "never upsamples") {
    val docs = Tables.load(spark, dir, "documents")
    val rows = Curation.mixtureResample(docs, col("lang"), col("doc_id"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, before, kept) => assert(kept <= before) }
    // the stratum with max n_before/target ratio constraint — i.e. the
    // smallest stratum under equal shares — keeps everything (rate 1)
    val constrained = rows.minBy(_._2)
    assert(constrained._3 == constrained._2,
      s"constrained stratum should keep all rows: $constrained")
  }

  test("mixtureResample samples a NULL stratum like any other group") {
    import spark.implicits._
    // null stratum is the LARGEST group: under an equi-join its rows
    // would all be rejected while its count still constrained the
    // feasible size — accounting would claim n_kept 0 for a group that
    // should keep ~half its rows
    val df = ((1 to 40).map(i => (Option.empty[String], i.toLong)) ++
      (1 to 20).map(i => (Some("en"), 100L + i)))
      .toDF("lang", "doc_id")
    val rows = Curation.mixtureResample(df, col("lang"), col("doc_id"))
      .collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
      .toSeq
    val nullRow = rows.find(_._1.isEmpty).get
    assert(nullRow._2 == 40L)
    assert(nullRow._3 > 0L, "null stratum must be sampled, not dropped")
    assert(nullRow._3 <= nullRow._2)
    // constrained stratum ("en") still keeps everything
    val en = rows.find(_._1.contains("en")).get
    assert(en._3 == en._2)
  }

  test("tokenBudgetCap admission is deterministic under duplicate keys") {
    import spark.implicits._
    // two rows share key "k" with different token counts; the budget
    // line falls between them, so a nondeterministic order would flip
    // which one is admitted and change tok_kept across runs
    val df = Seq(("s", "k", 60L), ("s", "k", 40L), ("s", "z", 60L))
      .toDF("lang", "id", "n")
    def run(p: Int) = Curation.tokenBudgetCap(df.repartition(p),
        col("lang"), col("id"), col("n"), budget = 70L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(run(1) == run(7))
    // the n_tok tiebreak admits the SMALLER same-key row first
    val (_, nDocs, _, _) = run(1).head
    assert(nDocs == 3L)
  }

  test("mixtureResample is partition-count independent") {
    val docs = Tables.load(spark, dir, "documents")
    def run(p: Int) = Curation.mixtureResample(
        docs.repartition(p), col("lang"), col("doc_id"))
      .orderBy(col("stratum")).collect().toSeq
    assert(run(1) == run(7))
  }

  test("shingleNovelty: lowest doc_id owns all its shingles; an exact " +
      "duplicate of an earlier doc has novelty 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefghij"),   // 3 distinct 8-shingles, all first-seen
      (2L, "abcdefghij"),   // exact dup of doc 1 → novelty 0
      (3L, "zzzzzzzzzz")    // 1 distinct shingle (all same), novel
    ).toDF("doc_id", "text")
    val got = DedupOps.shingleNovelty(docs)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3)))
    assert(got(0) == ((1L, 3L, 3L, 1.0)))
    assert(got(1) == ((2L, 3L, 0L, 0.0)))
    assert(got(2) == ((3L, 1L, 1L, 1.0)))
  }

  test("survivorship elects the highest-quality cluster member, not the " +
      "lowest id") {
    import spark.implicits._
    // docs 1,2,3 near-identical (one char differs); doc 3 is longest.
    // doc 9 unrelated → its own cluster, keeps itself.
    val base = "the quick brown fox jumps over the lazy dog " * 3
    val docs = Seq(
      (1L, base + "a", (base + "a").length.toLong),
      (2L, base + "b", (base + "b").length.toLong),
      (3L, base + "ccccc", (base + "ccccc").length.toLong),
      (9L, "completely unrelated text with nothing shared here at all", 57L)
    ).toDF("doc_id", "text", "n_chars")
    val got = graft.ops.DedupOps.survivorship(docs)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L, 9L))
    // one cluster {1,2,3} labeled by min id, champion = longest (doc 3)
    assert(got.filter(_._2 == 1L).map(_._3).distinct.toSeq == Seq(3L))
    assert(got.find(_._1 == 3L).get._4)
    assert(!got.find(_._1 == 1L).get._4 && !got.find(_._1 == 2L).get._4)
    assert(got.find(_._1 == 9L).get == ((9L, 9L, 9L, true)))
  }

  test("near-dup chain survives a boilerplate-heavy corpus (hot bucket, " +
      "no forced broadcast)") {
    import spark.implicits._
    // 60 near-identical docs: every band collides for every pair, the
    // candidate set is corpus-sized — the regime where a forced
    // broadcast of candidate ids would be the wrong plan at scale
    val docs = (1L to 60L)
      .map(i => (i, s"shared boilerplate text repeated everywhere $i", 40L + i))
      .toDF("doc_id", "text", "n_chars")
    val clusters = graft.ops.DedupOps.duplicateClusters(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.length == 60)
    // all docs share long shingles → one cluster labeled 1
    assert(clusters.map(_._2).distinct.toSeq == Seq(1L))
  }

  test("tokenBudgetCap and shingleNovelty are partition-count independent") {
    val docs = Tables.load(spark, dir, "documents")
    def cap(p: Int) = Curation.tokenBudgetCap(docs.repartition(p),
        col("source"), col("doc_id"),
        size(graft.queries.Q.tokens(col("text"))).cast("long"), budget = 300L)
      .orderBy("stratum").collect().toSeq
    assert(cap(1) == cap(7))
    def nov(p: Int) = DedupOps.shingleNovelty(docs.repartition(p))
      .orderBy("doc_id").collect().toSeq
    assert(nov(1) == nov(7))
  }

  test("indexedTermSearch: bucket-pruned postings, same results as the " +
      "scan-side search") {
    val s = TestSpark.session
    val db = s"idx${System.nanoTime()}"
    val docs = Tables.load(s, dir, "documents")
    TextOps.buildTermIndex(docs, db, "terms")
    val terms = Seq("join", "vector")
    val viaIndex = TextOps.indexedTermSearch(s, db, "terms", terms)
    val direct = TextOps.termSearch(docs, terms)
    assert(viaIndex.collect().map(_.getLong(0)).sorted.toSeq ==
      direct.collect().map(_.getLong(0)).sorted.toSeq)
    assert(viaIndex.count() > 0)
    // the equality/IN filter on the bucket column prunes buckets
    val plan = viaIndex.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount"),
      s"term lookup should bucket-prune the index scan:\n$plan")
  }

  test("crossNearDuplicatesIndexed: persisted band index gives the exact " +
      "output of the inline screen, from a bucketed scan") {
    val s = TestSpark.session
    val db = s"bidx${System.nanoTime()}"
    val docs = Tables.load(s, dir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val incoming = docs
      .filter(org.apache.spark.sql.functions.col("doc_id") < 50)
      .select((org.apache.spark.sql.functions.col("doc_id") + 10000)
        .as("doc_id"), org.apache.spark.sql.functions.col("text"))
    DedupOps.buildBandIndex(docs, db, "bands")
    val idx = s.table(s"$db.bands")
    val viaIndex = DedupOps.crossNearDuplicatesIndexed(incoming, docs, idx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val direct = DedupOps.crossNearDuplicates(incoming, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(viaIndex.nonEmpty && viaIndex == direct)
    // the corpus side of the candidate join reads the BUCKETED index
    val plan = DedupOps.crossNearDuplicatesIndexed(incoming, docs, idx)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"indexed screen should scan the bucketed band table:\n$plan")
  }

  test("updateBandIndex/compactBandIndex: incremental add + tombstone " +
      "delete equals a fresh rebuild; compaction folds tombstones") {
    val s = TestSpark.session
    import org.apache.spark.sql.functions.col
    import s.implicits._
    val db = s"bmx${System.nanoTime()}"
    val docs = Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("text"))
    val initial = docs.filter(col("doc_id") < 400)
    val added = docs.filter(col("doc_id") >= 400)
    val removedIds = Seq(3L, 7L, 11L).toDF("doc_id")
    // incremental: build on initial, append `added`, tombstone 3 ids
    DedupOps.buildBandIndex(initial, db, "bands")
    DedupOps.updateBandIndex(s, db, "bands", added, removedIds)
    val live = DedupOps.liveBandIndex(s, db, "bands")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    // reference: rebuild from the post-update corpus
    val corpus2 = docs.filter(!col("doc_id").isin(3L, 7L, 11L))
    DedupOps.buildBandIndex(corpus2, db, "fresh")
    val fresh = s.table(s"$db.fresh")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(live.nonEmpty && live == fresh)
    // screens agree end-to-end through the maintained live view
    val incoming = docs.filter(col("doc_id") < 30)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val viaMaintained = DedupOps.crossNearDuplicatesIndexed(
        incoming, corpus2, DedupOps.liveBandIndex(s, db, "bands"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    val viaDirect = DedupOps.crossNearDuplicates(incoming, corpus2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(identity).toSeq
    assert(viaMaintained == viaDirect)
    // RE-ADMISSION with changed text: doc 7 comes back in a later batch.
    // Its NEW band rows must show; its stale pre-deletion rows must NOT.
    val readmitted = docs.filter(col("doc_id") === 7L)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.concat(col("text"),
          org.apache.spark.sql.functions.lit(" entirely new suffix text"))
          .as("text"))
    DedupOps.updateBandIndex(s, db, "bands", readmitted,
      Seq.empty[Long].toDF("doc_id"))
    val live7 = DedupOps.liveBandIndex(s, db, "bands")
      .filter(col("doc_id") === 7L)
      .collect().map(r => (r.getInt(1), r.getString(2))).sorted.toSeq
    val expect7 = DedupOps.bandsOf(readmitted)
      .collect().map(r => (r.getInt(1), r.getString(2))).sorted.toSeq
    assert(live7.nonEmpty && live7 == expect7,
      "re-admitted doc must expose exactly its NEW band rows")
    // docs 3 and 11 stay hidden (their tombstones outrank batch 0)
    assert(DedupOps.liveBandIndex(s, db, "bands")
      .filter(col("doc_id").isin(3L, 11L)).count() == 0)

    // compaction: tombstones fold in, live view unchanged, table bucketed
    DedupOps.compactBandIndex(s, db, "bands")
    assert(s.table(s"$db.bands_tombstones").count() == 0)
    // post-compaction: re-admitted doc still visible, removed still gone
    assert(DedupOps.liveBandIndex(s, db, "bands")
      .filter(col("doc_id") === 7L).count() == live7.size)
    assert(DedupOps.liveBandIndex(s, db, "bands")
      .filter(col("doc_id").isin(3L, 11L)).count() == 0)
    val compacted = s.table(s"$db.bands")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    // reference now includes the re-admitted doc 7 with its NEW text
    val fresh2 = (fresh.filterNot(_._1 == 7L) ++
      expect7.map { case (band, bk) => (7L, band, bk) })
      .sortBy(t => (t._1, t._2, t._3))
    assert(compacted == fresh2)
    val plan = DedupOps.crossNearDuplicatesIndexed(
        incoming, corpus2, DedupOps.liveBandIndex(s, db, "bands"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"compacted index must still scan bucketed:\n$plan")

    // SAME-CALL replace: remove + re-admit doc 11 in one update — the
    // tombstone (as_of = batch − 1) must hide prior generations but
    // never this call's own admissions
    val re11 = docs.filter(col("doc_id") === 11L)
    DedupOps.updateBandIndex(s, db, "bands", re11,
      Seq(11L).toDF("doc_id"))
    val live11 = DedupOps.liveBandIndex(s, db, "bands")
      .filter(col("doc_id") === 11L)
      .collect().map(r => (r.getInt(1), r.getString(2))).sorted.toSeq
    val expect11 = DedupOps.bandsOf(re11)
      .collect().map(r => (r.getInt(1), r.getString(2))).sorted.toSeq
    assert(live11.nonEmpty && live11 == expect11,
      "same-call remove+re-admit must behave as REPLACE")

    // REMOVAL-ONLY calls must each get a fresh generation: two
    // consecutive removal-only updates write strictly increasing as_of
    // stamps (deriving nextBatch from the index's max(batch) alone
    // would reuse one id), and a later re-admission still wins over
    // both tombstones
    DedupOps.updateBandIndex(s, db, "bands",
      docs.filter(org.apache.spark.sql.functions.lit(false)),
      Seq(7L).toDF("doc_id"))
    DedupOps.updateBandIndex(s, db, "bands",
      docs.filter(org.apache.spark.sql.functions.lit(false)),
      Seq(11L).toDF("doc_id"))
    val asOfs = s.table(s"$db.bands_tombstones")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(asOfs(7L) != asOfs(11L),
      s"removal-only calls must not reuse a generation id: $asOfs")
    assert(DedupOps.liveBandIndex(s, db, "bands")
      .filter(col("doc_id").isin(7L, 11L)).count() == 0)
    val re7 = docs.filter(col("doc_id") === 7L)
    DedupOps.updateBandIndex(s, db, "bands", re7,
      Seq.empty[Long].toDF("doc_id"))
    assert(DedupOps.liveBandIndex(s, db, "bands")
      .filter(col("doc_id") === 7L).count() ==
      DedupOps.bandsOf(re7).count(),
      "re-admission after removal-only generations must be visible")

    // the DDL surface rejects identifiers it cannot interpolate safely
    // and the reserved maintenance suffixes
    intercept[IllegalArgumentException] {
      DedupOps.compactBandIndex(s, "bad-db", "bands")
    }
    intercept[IllegalArgumentException] {
      DedupOps.updateBandIndex(s, db, "x; DROP TABLE y", re7,
        Seq.empty[Long].toDF("doc_id"))
    }
    intercept[IllegalArgumentException] {
      DedupOps.buildBandIndex(docs, db, "mine_tombstones")
    }
  }

  test("termSearch matches only docs containing ALL terms and plans " +
      "no exchange") {
    import spark.implicits._
    val docs = Seq(
      (1L, "join hash vector scan", "s", 10L),
      (2L, "join hash", "s", 5L),
      (3L, "vector", "s", 3L)
    ).toDF("doc_id", "text", "source", "n_chars")
    val q = TextOps.termSearch(docs, Seq("join", "vector"))
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L))
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"termSearch should be a pure scan-side filter:\n$plan")
  }
}
