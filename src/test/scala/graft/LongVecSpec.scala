package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.LongVec
import graft.ops.VectorOps

/** The fused long-vector kernels must be bit-identical to the composed
  * higher-order-function forms they replace, on real quantized embedding
  * data and on nulls. */
class LongVecSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("dot and dist2 match the composed aggregate(zip_with) forms") {
    val emb = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
    val a = emb.select(col("vec_id").as("ai"),
      VectorOps.quantized(col("embedding")).as("av"))
    val b = emb.select(col("vec_id").as("bi"),
      VectorOps.quantized(col("embedding")).as("bv"))
    val pairs = a.join(b, col("ai") < col("bi") && col("ai") % 7 === 0)
    val cmp = pairs.select(
      LongVec.dot(col("av"), col("bv")).as("fd"),
      aggregate(zip_with(col("av"), col("bv"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v).as("cd"),
      LongVec.dist2(col("av"), col("bv")).as("f2"),
      aggregate(zip_with(col("av"), col("bv"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v).as("c2"))
    assert(cmp.count() > 0)
    assert(cmp.filter(col("fd") =!= col("cd") || col("f2") =!= col("c2"))
      .count() == 0)
  }

  test("dist2d matches the composed IEEE fold bit-for-bit") {
    val emb = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
    val a = emb.select(col("vec_id").as("ai"),
      VectorOps.quantized(col("embedding")).as("av"))
    // irrational-ish double centroids: means over a 7-row group, so the
    // (x−m)² terms exercise real rounding, not integer-valued doubles
    val m = emb.select((col("vec_id") % 11).as("mi"),
        VectorOps.quantized(col("embedding")).as("v"))
      .select(col("mi"), posexplode(col("v")).as(Seq("g", "x")))
      .groupBy(col("mi"), col("g")).agg(avg(col("x")).as("c"))
      .groupBy(col("mi"))
      .agg(transform(array_sort(collect_list(struct(col("g"), col("c")))),
        t => t.getField("c")).as("mv"))
    val cmp = a.join(m, col("ai") % 11 === col("mi"))
      .select(
        LongVec.dist2d(col("av"), col("mv")).as("fk"),
        aggregate(zip_with(col("av"), col("mv"),
            (x, c) => (x.cast("double") - c) * (x.cast("double") - c)),
          lit(0.0), (acc, t) => acc + t).as("ck"))
    assert(cmp.count() > 0)
    // bit-identity, not approximate equality: compare the raw bits
    assert(cmp.filter(
      expr("cast(fk as string) <> cast(ck as string)")).count() == 0)
  }

  test("nscaledDist2 equals the exploded DECIMAL aggregation exactly") {
    val emb = graft.sources.Tables
      .load(spark, "/root/testdata/sf0.001", "embeddings")
    val v = emb.select(col("vec_id"),
      (col("vec_id") % 5).as("lbl"),
      VectorOps.quantized(col("embedding")).as("qv"))
    val cent = v.groupBy(col("lbl").as("label"))
      .agg(graft.functions.VecMoments(col("qv")).as("m"))
      .select(col("label"), col("m.s").as("s"), col("m.n").as("nl"))
    val viaKernel = v.join(broadcast(cent))
      .select(col("vec_id"), col("label"),
        LongVec.nscaledDist2(col("qv"), col("s"), col("nl")).as("d2"))
    // reference: per-dim DECIMAL(38,0) terms summed per pair
    val wide = org.apache.spark.sql.types.DecimalType(38, 0)
    val xv = v.select(col("vec_id"),
      posexplode(col("qv")).as(Seq("pos", "x")))
    val cx = cent.select(col("label"), col("nl"),
      posexplode(col("s")).as(Seq("pos", "sg")))
    val term = col("nl").cast(wide) * col("x") - col("sg")
    val viaExplode = xv.join(cx, "pos")
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(term * term).as("d2"))
    val joined = viaKernel.as("k").join(viaExplode.as("e"),
      col("k.vec_id") === col("e.vec_id") && col("k.label") === col("e.label"))
    assert(joined.count() > 0)
    assert(joined.filter(col("k.d2") =!= col("e.d2")).count() == 0)
  }

  test("null arrays propagate to null") {
    import spark.implicits._
    val df = Seq((Some(Seq(1L, 2L)), None: Option[Seq[Long]]))
      .toDF("a", "b")
    val r = df.select(LongVec.dot(col("a"), col("b")).as("d"),
      LongVec.dist2(col("a"), col("b")).as("d2")).collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("ragged inputs fail loudly instead of truncating") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 3L), Seq(1L, 2L))).toDF("a", "b")
    def raises(c: org.apache.spark.sql.Column): Unit = {
      val e = intercept[Exception](df.select(c).collect())
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(e).exists(_.getMessage != null) &&
        chain(e).exists(t => Option(t.getMessage)
          .exists(_.contains("length mismatch"))), s"got: $e")
    }
    raises(LongVec.dot(col("a"), col("b")))
    raises(LongVec.dist2(col("a"), col("b")))
    raises(LongVec.nscaledDist2(col("a"), col("b"), lit(2L)))
    val dm = Seq((Seq(1L, 2L, 3L), Seq(1.0, 2.0))).toDF("a", "m")
    val e = intercept[Exception](
      dm.select(LongVec.dist2d(col("a"), col("m"))).collect())
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(t => Option(t.getMessage)
      .exists(_.contains("length mismatch"))), s"got: $e")
  }
}
