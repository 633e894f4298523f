package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gold.IncrementalAgg
import graft.queries.Q.cents
import graft.sources.Tables

class IncrementalAggSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private lazy val spark = TestSpark.session

  test("incremental state equals one-shot aggregation for any batch split") {
    val orders = Tables.load(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
    val measures = Map("price_c" -> cents(col("o_totalprice")))

    // 5-way split on an unrelated hash -> uneven, arbitrary batches
    val statePath = Files.createTempDirectory("inc-").toString + "/s"
    (0 until 5).foreach { i =>
      IncrementalAgg.update(spark, statePath,
        orders.filter(abs(hash(col("o_totalprice"))) % 5 === i),
        Seq("day"), measures)
    }
    val incremental = spark.read.parquet(statePath)

    val oneShot = IncrementalAgg.partials(orders, Seq("day"), measures)
    assert(incremental.count() == oneShot.count())
    assert(incremental.except(oneShot).count() == 0
      && oneShot.except(incremental).count() == 0,
      "incremental merge diverged from one-shot aggregation")
  }

  test("state is disk-durable: a different session resumes the fold " +
      "mid-sequence, and an interrupted swap self-heals") {
    import java.nio.file.{Files => JFiles, Paths}
    val orders = Tables.load(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
    val measures = Map("price_c" -> cents(col("o_totalprice")))
    val statePath = JFiles.createTempDirectory("inc-").toString + "/s"
    def slice(i: Int) =
      orders.filter(abs(hash(col("o_totalprice"))) % 4 === i)

    IncrementalAgg.update(spark, statePath, slice(0), Seq("day"), measures)
    IncrementalAgg.update(spark, statePath, slice(1), Seq("day"), measures)

    // "restart": a fresh session (no shared temp views, fresh plan
    // cache) picks the fold up from the files alone
    val spark2 = spark.newSession()
    IncrementalAgg.update(spark2, statePath, slice(2), Seq("day"), measures)

    // interrupted swap before the last fold: the state dir was renamed
    // aside and the staging write never committed
    JFiles.move(Paths.get(statePath), Paths.get(statePath + ".old-1"))
    IncrementalAgg.update(spark2, statePath, slice(3), Seq("day"), measures)

    val incremental = spark.read.parquet(statePath)
    val oneShot = IncrementalAgg.partials(orders, Seq("day"), measures)
    assert(incremental.except(oneShot).count() == 0
      && oneShot.except(incremental).count() == 0,
      "disk-resumed + healed fold diverged from one-shot aggregation")
  }

  test("the agg state is bucket-scoped: a narrow batch rewrites only " +
      "its key-hash buckets, the rest carry by file name") {
    val orders = Tables.load(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
    val measures = Map("price_c" -> cents(col("o_totalprice")))
    val statePath = Files.createTempDirectory("inc-bkt-").toString + "/s"
    def files(): Map[Int, Set[String]] =
      graft.silver.BucketedState.bucketFiles(statePath)
        .map { case (b, ps) => b -> ps.map(_.getFileName.toString).toSet }
    // bootstrap with most of the data, then fold a 3-day sliver
    val days = orders.select(col("day")).distinct()
      .orderBy(col("day")).limit(3).collect().map(_.getDate(0))
    val narrow = orders.filter(col("day").isin(days.map(d => lit(d)): _*))
    val bulk = orders.except(narrow)
    IncrementalAgg.update(spark, statePath, bulk, Seq("day"), measures)
    val before = files()
    val expectTouched = narrow.select(
        pmod(hash(col("day")), lit(32)).cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(expectTouched.nonEmpty && before.keySet.exists(!expectTouched(_)),
      "degenerate fixture: every bucket touched")
    IncrementalAgg.update(spark, statePath, narrow, Seq("day"), measures)
    val after = files()
    for ((b, names) <- before if !expectTouched(b))
      assert(after.get(b).contains(names), s"untouched agg bucket $b rewritten")
    for ((b, names) <- before if expectTouched(b))
      assert(!after.get(b).contains(names), s"touched agg bucket $b kept its file")
    // and the folded state still equals the one-shot aggregation
    val oneShot = IncrementalAgg.partials(orders, Seq("day"), measures)
    val incremental = spark.read.parquet(statePath)
    assert(incremental.except(oneShot).count() == 0
      && oneShot.except(incremental).count() == 0)
  }

  test("empty-batch update is a no-op on the state") {
    val orders = Tables.load(spark, dir, "orders")
      .select(to_date(col("o_orderdate")).as("day"), col("o_totalprice"))
    val measures = Map("price_c" -> cents(col("o_totalprice")))
    val statePath = Files.createTempDirectory("inc-").toString + "/s"
    IncrementalAgg.update(spark, statePath, orders, Seq("day"), measures)
    val before = spark.read.parquet(statePath).collect().toSet
    IncrementalAgg.update(spark, statePath, orders.limit(0),
      Seq("day"), measures)
    val after = spark.read.parquet(statePath).collect().toSet
    assert(before == after)
  }
}
