package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VecMoments
import graft.ops.VectorOps

/** The vec_moments aggregate must be bit-identical to the exploded
  * posexplode + per-(key, dim) aggregation it replaces, under any
  * partitioning (its merge/serialize path runs whenever partial buffers
  * cross an exchange). */
class VecMomentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def vectors = {
    import spark.implicits._
    // deterministic fake embeddings incl. a null row (skipped) and
    // negative components (floor quantization is not truncation)
    (1 to 40).map { i =>
      val v = if (i % 13 == 0) null
      else Array.tabulate(8)(g => ((i * 31 + g * 7) % 19 - 9) / 3.0f)
      (i.toLong, (i % 3).toLong, v)
    }.toDF("vec_id", "label", "embedding")
  }

  private def explodedMoments = {
    val xv = vectors.filter(col("embedding").isNotNull)
      .select(col("label"),
        posexplode(VectorOps.quantized(col("embedding"))).as(Seq("g", "x")))
    xv.groupBy(col("label"), col("g"))
      .agg(sum(col("x")).as("s"), sum(col("x") * col("x")).as("q"),
        count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        transform(array_sort(collect_list(struct(col("g"), col("s")))),
          t => t.getField("s")).as("s"),
        transform(array_sort(collect_list(struct(col("g"), col("q")))),
          t => t.getField("q")).as("q"))
  }

  private def collectMoments(df: org.apache.spark.sql.DataFrame) =
    df.select(col("label"), col("m.n").as("n"), col("m.s").as("s"),
        col("m.q").as("q"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList,
        r.getSeq[Long](3).toList))
      .sortBy(_._1)

  test("float input matches the exploded form bit-for-bit, any partitioning") {
    val expected = explodedMoments.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2).toList,
        r.getSeq[Long](3).toList))
      .sortBy(_._1)
    for (parts <- Seq(1, 3, 7)) {
      val got = collectMoments(
        vectors.repartition(parts).groupBy(col("label"))
          .agg(VecMoments(col("embedding")).as("m")))
      assert(got === expected, s"parts=$parts")
    }
  }

  test("pre-quantized ARRAY<BIGINT> input yields the same moments") {
    val viaLong = collectMoments(
      vectors.select(col("label"),
          VectorOps.quantized(col("embedding")).as("xq"))
        .groupBy(col("label")).agg(VecMoments(col("xq")).as("m")))
    val viaFloat = collectMoments(
      vectors.groupBy(col("label")).agg(VecMoments(col("embedding")).as("m")))
    assert(viaLong === viaFloat)
  }

  test("all-null group evaluates to n=0 with empty moment arrays") {
    import spark.implicits._
    val df = Seq((1L, null.asInstanceOf[Array[Float]]))
      .toDF("label", "embedding")
      .groupBy(col("label")).agg(VecMoments(col("embedding")).as("m"))
    val r = df.select(col("m.n"), size(col("m.s"))).collect().head
    assert(r.getLong(0) === 0L && r.getInt(1) === 0)
  }

  test("Σx² overflow fails loudly instead of wrapping") {
    import spark.implicits._
    val big = Array.fill(2)(Long.MaxValue / 2)
    val df = Seq((1L, big), (1L, big), (1L, big))
      .toDF("label", "xq")
      .groupBy(col("label")).agg(VecMoments(col("xq")).as("m"))
    val e = intercept[Exception] { df.collect() }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(_.isInstanceOf[ArithmeticException]),
      s"expected ArithmeticException in cause chain, got $e")
  }
}
