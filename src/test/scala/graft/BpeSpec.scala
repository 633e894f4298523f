package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bpe

/** BPE learning/application vs an independent plain-Scala reference of
  * the same algorithm (Sennrich et al.'s get_stats/merge loop over a
  * word-frequency table, single-char symbol encoding). */
class BpeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  /** Plain-Scala reference: same counting (overlapping positions), same
    * greedy left-to-right merge (String.replace), same tie-break
    * (count desc, pair-string asc), same marker allocation. */
  private def refLearn(words0: Seq[(String, Long)], n: Int,
      minCount: Long = 2L): Seq[(Int, String, String, Long)] = {
    var words = words0
    val expand = scala.collection.mutable.Map[Char, String]()
    def ex(c: Char): String = expand.getOrElse(c, c.toString)
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var rank = 0
    var stop = false
    while (rank < n && !stop) {
      val counts = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      for ((w, f) <- words; i <- 0 until w.length - 1)
        counts(w.substring(i, i + 2)) += f
      val eligible = counts.toSeq.filter(_._2 >= minCount)
      if (eligible.isEmpty) stop = true
      else {
        val (pair, c) = eligible.minBy { case (p, k) => (-k, p) }
        val marker = (Bpe.markerBase + rank).toChar
        val (l, r) = (ex(pair.charAt(0)), ex(pair.charAt(1)))
        expand(marker) = l + r
        out += ((rank, l, r, c))
        words = words.map { case (w, f) => (w.replace(pair, marker.toString), f) }
        rank += 1
      }
    }
    out.toSeq
  }

  // classic BPE fixture: low*5 lower*2 newest*6 widest*3 — plus a word
  // with an internal repeat ("aaaa") to pin the overlapping-count /
  // non-overlapping-merge asymmetry in both implementations.
  private val wordFreqs = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L,
    "widest" -> 3L, "aaaa" -> 2L)

  private def fixtureDocs = {
    import spark.implicits._
    // one doc per word, text = the word repeated freq times
    wordFreqs.zipWithIndex.map { case ((w, f), i) =>
      (i.toLong, Seq.fill(f.toInt)(w).mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("learn matches the plain-Scala reference merge-for-merge") {
    val got = Bpe.learn(fixtureDocs, nMerges = 10)
      .map(m => (m.rank, m.left, m.right, m.count))
    val want = refLearn(wordFreqs, 10)
    assert(want.nonEmpty && want.size >= 5, s"fixture too small: $want")
    assert(got == want)
  }

  test("learn matches the reference on seeded random corpora " +
      "(tie-break and marker allocation included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val alphabet = "abcd"
      val words = (1 to 6).map { _ =>
        val len = 2 + rnd.nextInt(5)
        (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }
      val freqs = words.groupBy(identity).view
        .mapValues(_.size.toLong * (1 + rnd.nextInt(3))).toSeq.sortBy(_._1)
      val docs = freqs.zipWithIndex.map { case ((w, f), i) =>
        (i.toLong, Seq.fill(f.toInt)(w).mkString(" "))
      }.toDF("doc_id", "text")
      val got = Bpe.learn(docs, nMerges = 6)
        .map(m => (m.rank, m.left, m.right, m.count))
      val want = refLearn(freqs, 6)
      assert(got == want, s"trial $trial corpus $freqs:\n got $got\nwant $want")
    }
  }

  test("learnBatched is merge-for-merge identical to sequential learn " +
      "across batch widths, fixtures and random corpora", Slow) {
    import spark.implicits._
    val want = Bpe.learn(fixtureDocs, nMerges = 10)
    for (b <- Seq(1, 2, 256)) {
      val got = Bpe.learnBatched(fixtureDocs, nMerges = 10, maxBatch = b)
      assert(got == want, s"maxBatch=$b")
    }
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 4) {
      val alphabet = "abcde"
      val freqs = (1 to 8).map { _ =>
        val len = 2 + rnd.nextInt(6)
        (1 to len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
      }.groupBy(identity).view
        .mapValues(_.size.toLong * (1 + rnd.nextInt(4))).toSeq.sortBy(_._1)
      val docs = freqs.zipWithIndex.map { case ((w, f), i) =>
        (i.toLong, Seq.fill(f.toInt)(w).mkString(" "))
      }.toDF("doc_id", "text")
      val w = Bpe.learn(docs, nMerges = 8)
      for (b <- Seq(1, 3, 64)) {
        val g = Bpe.learnBatched(docs, nMerges = 8, maxBatch = b)
        assert(g == w, s"trial $trial maxBatch=$b corpus $freqs")
      }
    }
  }

  test("learnBatched: created marker pairs cannot jump a batch — the " +
      "adversarial chained case defers to the next pass") {
    import spark.implicits._
    // "abab"×100: greedy merges ab→X (200), then the CREATED pair XX
    // (100) outranks nothing else but must come before any pair a
    // naive batcher would have pre-admitted at count ≤ 100
    val docs = Seq(
      (1L, Seq.fill(100)("abab").mkString(" ")),
      (2L, Seq.fill(90)("cd").mkString(" "))).toDF("doc_id", "text")
    val want = Bpe.learn(docs, nMerges = 3, minCount = 1L)
    assert(want.map(_.pair) == Seq("ab", "\uE000\uE000", "cd"),
      s"fixture must exercise the created-pair path: $want")
    val got = Bpe.learnBatched(docs, nMerges = 3, minCount = 1L,
      maxBatch = 16)
    assert(got == want)
  }

  test("learnBatched: a SELF-pair ends its batch — its created marker " +
      "run-pair is not nStop-bounded (review regression)") {
    import spark.implicits._
    // "aaaa"×200: aa counts 600 (overlapping) and has NO sharing pair
    // in the top list to stop the scan, so an unbounded batch would
    // also admit cd (150). But merging aa→X rewrites "aaaa" to "XX"
    // (200), which sequential greedy picks BEFORE cd — the created
    // pair maps onto aa's OWN occurrences, not a pre-existing bounded
    // pair. The batch must stop at the self-pair.
    val docs = Seq(
      (1L, Seq.fill(200)("aaaa").mkString(" ")),
      (2L, Seq.fill(150)("cd").mkString(" "))).toDF("doc_id", "text")
    val want = Bpe.learn(docs, nMerges = 3, minCount = 1L)
    assert(want.map(_.pair) == Seq("aa", "\uE000\uE000", "cd"),
      s"fixture must exercise the self-pair path: $want")
    for (b <- Seq(2, 16)) {
      val got = Bpe.learnBatched(docs, nMerges = 3, minCount = 1L,
        maxBatch = b)
      assert(got == want, s"maxBatch=$b:\n got $got\nwant $want")
    }
  }

  test("learn stops early when no pair reaches minCount") {
    import spark.implicits._
    val docs = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    assert(Bpe.learn(docs, nMerges = 5, minCount = 2L).isEmpty)
    assert(Bpe.learn(docs, nMerges = 5, minCount = 1L).nonEmpty)
  }

  test("segmentStats applies merges greedily left-to-right in rank order") {
    val merges = Bpe.learn(fixtureDocs, nMerges = 4)
    val got = Bpe.segmentStats(fixtureDocs, merges)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // reference application: same replace chain over each doc's tokens
    val chain = merges.map(m => (m.pair, m.marker))
    val want = wordFreqs.zipWithIndex.map { case ((w, f), i) =>
      val seg = chain.foldLeft(w) { case (s, (p, mk)) => s.replace(p, mk) }
      (i.toLong, f, f * seg.length.toLong)
    }
    assert(got == want)
    // fertility sanity: merged tokens never longer than raw chars
    wordFreqs.zip(got).foreach { case ((w, _), (_, nTok, nBpe)) =>
      assert(nBpe <= w.length * nTok)
    }
  }
}
