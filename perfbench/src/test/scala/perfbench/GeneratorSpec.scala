package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs repeat exactly for a seed, and its expected-state
  * model agrees with the Lake. Run with `sbt test` in perfbench/. */
class GeneratorSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .withExtensions(new graft.plans.LakeExtensions)
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")

  private def batches(seed: Long) = {
    val g = new TrickleGen(seed)
    Seq(g.orders(200).rows, g.events(200).rows, g.orders(200).rows, g.events(200).rows)
  }

  test("micro-batches repeat exactly for a seed and differ across seeds") {
    assert(batches(7) == batches(7))
    assert(batches(7) != batches(8))
  }

  test("later batches re-send earlier keys and repeat keys within the batch") {
    val g = new TrickleGen(3)
    g.orders(1000)
    val b = g.orders(1000)
    assert(b.keys.count(_ < 1000) >= 300, "at least 30% re-sent keys")
    assert(b.keys.size > b.keys.distinct.size, "in-batch duplicates")
  }

  test("model: earliest record wins within a batch, latest batch wins across") {
    val m = new Model[OrderRec](_.o_orderkey)
    def o(k: Long, s: String) = OrderRec(k, 1, s, 1.0, "2000-01-01", "5-LOW")
    m(Batch(Vector(o(1, "first"), o(2, "x"), o(1, "second")), Vector(1L, 2L, 1L)))
    assert(m.rows.get(1L).o_orderstatus == "first")
    m(Batch(Vector(o(1, "later")), Vector(1L)))
    assert(m.rows.get(1L).o_orderstatus == "later")
    assert(m.rows.get(2L).o_orderstatus == "x")
  }

  test("table rows are pure functions of seed and key") {
    val z = Gen.Sizes(0.001)
    assert(Gen.order(5, z, 10) == Gen.order(5, z, 10))
    assert(Gen.order(5, z, 10) != Gen.order(6, z, 10))
    assert(Gen.document(5, 77) == Gen.document(5, 77))
    assert(Gen.lineItems(5, z, 3) == Gen.lineItems(5, z, 3))
    import spark.implicits._
    val viaSpark = Gen.table(spark, 5, z, "orders").as[Order].collect().sortBy(_.o_orderkey).toSeq
    assert(viaSpark == (0L until z.orders).map(Gen.order(5, z, _)))
  }

  test("the model agrees with the Lake on a tiny seed") {
    val dir = Files.createTempDirectory("perfbench-spec")
    val ctx = new Ctx(spark, new Tracer(false), None, None, seed = 5, seconds = 0,
      runDir = dir, cores = 2)
    val st = Trickle.build(ctx, dir.resolve("lake"))
    (0 until 4).foreach { i =>
      Trickle.step(ctx, st, if (i % 2 == 0) "orders" else "events", 300, 1000L + i,
        fileStats = false)
    }
    Trickle.runGold(ctx, st)
    Trickle.dashboard(ctx, st)
    Trickle.check(ctx, st)
    assert(st.errors.result().isEmpty, st.errors.result().mkString("; "))
    // the only failed calls are the counted stale reads of the partitioned
    // endpoint (the Lake registers it without its partitions)
    assert(ctx.tracer.failures == st.staleReads)
  }
}
