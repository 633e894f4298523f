package graft

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TopKByScore

/** TopKByScore's contracts: k-bounded state, exact agreement with a full
  * sort under every chunking/merge order (the aggregator must be a true
  * mergeable summary, not an approximation), and through-Spark agreement
  * with the row_number window plan across partitionings. */
class TopKByScoreSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  /** Scores with heavy ties (many ids share a score) — the tiebreak
    * (score desc, id asc) must stay total under any merge order. */
  private def stream: Seq[(Long, Long)] =
    (1L to 200L).map(id => ((id % 7) * 10, id))

  private def exactTop(s: Seq[(Long, Long)], k: Int): Seq[(Long, Long)] =
    s.sortBy { case (sc, id) => (-sc, id) }.take(k)

  test("buffer never exceeds k; result equals full sort for any chunking") {
    val k = 5
    val agg = new TopKByScore(k)
    val s = stream
    for (chunks <- Seq(1, 3, 7, 16, 200)) {
      val bufs = s.grouped(math.max(s.length / chunks, 1)).toSeq
        .map(_.foldLeft(agg.zero)(agg.reduce))
      assert(bufs.forall(_.size <= k))
      // fold merges left-to-right AND right-to-left: both must agree
      val lr = bufs.reduce(agg.merge)
      val rl = bufs.reverse.reduce(agg.merge)
      assert(lr == exactTop(s, k), s"chunks=$chunks")
      assert(rl == exactTop(s, k))
    }
  }

  test("k larger than the group returns everything, sorted") {
    val agg = new TopKByScore(100)
    val s = stream.take(10)
    assert(s.foldLeft(agg.zero)(agg.reduce) == exactTop(s, 100))
  }

  test("through Spark: equals the window row_number plan on real data, " +
      "independent of input partitioning") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001",
      "documents")
    val topk = udaf(new TopKByScore(5),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    def viaAgg(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("source"))
        .agg(topk(col("n_chars"), col("doc_id")).as("top"))
        .select(col("source"), posexplode(col("top")).as(Seq("i", "e")))
        .select(col("source"), (col("i") + 1).cast("long").as("rnk"),
          col("e._2").as("doc_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val viaWindow = docs
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("source"), col("rnk"), col("doc_id"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(viaAgg(docs) == viaWindow)
    assert(viaAgg(docs.repartition(13)) == viaWindow)
  }
}
