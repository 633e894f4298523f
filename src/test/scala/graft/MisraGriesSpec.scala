package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MisraGries

/** The Misra–Gries aggregator's three contracts: bounded state, the
  * heavy-hitter survival guarantee (> N/k always present), and counter
  * values that are lower bounds within N/k of the truth — checked both
  * on raw reduce/merge calls (adversarial orders) and through a Spark
  * aggregation over many partitions. */
class MisraGriesSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  /** Zipf-ish stream: token i appears ~1000/i times, plus noise tail. */
  private def stream: Seq[String] =
    (1 to 20).flatMap(i => Seq.fill(1000 / i)(s"t$i")) ++
      (1 to 500).map(i => s"noise$i")

  private def exactCounts(s: Seq[String]): Map[String, Long] =
    s.groupBy(identity).map { case (k, v) => k -> v.size.toLong }

  test("state never exceeds k-1 counters through reduce and merge") {
    val mg = new MisraGries(10)
    val buf = stream.foldLeft(mg.zero)(mg.reduce)
    assert(buf.size <= 9)
    // merge two independently built halves (worst case: disjoint keys)
    val (l, r) = stream.splitAt(stream.length / 2)
    val merged = mg.merge(l.foldLeft(mg.zero)(mg.reduce),
      r.reverse.foldLeft(mg.zero)(mg.reduce))
    assert(merged.size <= 9)
  }

  test("every item above N/k survives, for any chunking/merge order") {
    val k = 10
    val mg = new MisraGries(k)
    val s = stream
    val n = s.length
    val exact = exactCounts(s)
    val heavy = exact.filter(_._2 * k > n).keySet
    assert(heavy.nonEmpty, "fixture must have heavy hitters")
    for (chunks <- Seq(1, 3, 7, 16)) {
      val bufs = s.grouped(math.max(n / chunks, 1)).toSeq
        .map(_.foldLeft(mg.zero)(mg.reduce))
      val total = bufs.reduce(mg.merge)
      val missed = heavy -- total.keySet
      assert(missed.isEmpty, s"chunks=$chunks missed $missed")
    }
  }

  test("stored counts are lower bounds within N/k of the true count") {
    val k = 10
    val mg = new MisraGries(k)
    val s = stream
    val exact = exactCounts(s)
    val buf = s.foldLeft(mg.zero)(mg.reduce)
    buf.foreach { case (t, c) =>
      assert(c <= exact(t), s"$t stored $c above true ${exact(t)}")
      assert(exact(t) - c <= s.length / k,
        s"$t error ${exact(t) - c} above N/k=${s.length / k}")
    }
  }

  test("Spark aggregation over 13 partitions keeps the guarantee") {
    import spark.implicits._
    val s = stream
    val exact = exactCounts(s)
    val heavy = exact.filter(_._2 * 10 > s.length).keySet
    val mg = new MisraGries(10)
    val out = spark.createDataset(s).repartition(13)
      .select(mg.toColumn.name("summary"))
      .collect().head
    assert(out.size <= 9)
    assert((heavy -- out.keySet).isEmpty)
  }
}
