package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Dataset, SparkSession}

// Row types of the generated tables: the column names and types of the
// TPC-H-like tables the engine's queries read.
final case class Region(r_regionkey: Int, r_name: String)
final case class Nation(n_nationkey: Int, n_name: String, n_regionkey: Int)
final case class Customer(c_custkey: Long, c_name: String, c_nationkey: Int,
    c_acctbal: Double, c_mktsegment: String)
final case class Order(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
final case class LineItem(l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
    l_linenumber: Int, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String,
    l_linestatus: String, l_shipdate: Timestamp)
final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)
final case class Document(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)
final case class Embedding(vec_id: Long, embedding: Seq[Float], label: Int)

/** Seeded input generator. Every row is a pure function of (seed, table,
  * key), so the same seed gives the same tables whatever the partitioning,
  * and expected answers can be computed from the generator alone. */
object Gen {
  def mix(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, salt: Long, key: Long): SplittableRandom =
    new SplittableRandom(mix(mix(mix(seed) + salt) + key))

  val Statuses = Array("O", "F", "P")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val EventTypes = Array("click", "view", "purchase", "signup", "error")
  val ReturnFlags = Array("A", "N", "R")
  val LineStatuses = Array("O", "F")
  val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Vocab = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group",
    "hash", "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")
  val Langs = Array("en", "en", "en", "zh", "es", "fr", "de")
  val DayMs = 86400000L
  val OrderEpochMs = 788918400000L // 1995-01-01
  val EventEpochMs = 1704067200000L // 2024-01-01

  /** Table sizes at scale factor `sf` (sf 0.1: 150k orders, ~600k lines). */
  final case class Sizes(sf: Double) {
    val orders: Long = (1500000 * sf).toLong
    val customers: Long = math.max(1L, (150000 * sf).toLong)
    val events: Long = (1000000 * sf).toLong
    val users: Long = math.max(1L, (15000 * sf).toLong)
    val parts: Long = math.max(1L, (200000 * sf).toLong)
    val suppliers: Long = math.max(1L, (10000 * sf).toLong)
    val documents: Long = (50000 * sf).toLong
    val embeddings: Long = (20000 * sf).toLong
  }

  def nation(k: Int): Nation = Nation(k, s"NATION_$k", k % 5)

  def customer(seed: Long, k: Long): Customer = {
    val r = rng(seed, 1, k)
    Customer(k, f"Customer#$k%09d", r.nextInt(25),
      (-99985 + r.nextInt(1099965)) / 100.0, Segments(r.nextInt(5)))
  }

  def order(seed: Long, z: Sizes, k: Long): Order = {
    val r = rng(seed, 2, k)
    Order(k, r.nextLong(z.customers), Statuses(r.nextInt(3)),
      (100191 + r.nextInt(49899200)) / 100.0,
      new Timestamp(OrderEpochMs + r.nextInt(2404) * DayMs),
      Priorities(r.nextInt(5)))
  }

  def lineItems(seed: Long, z: Sizes, k: Long): Seq[LineItem] = {
    val r = rng(seed, 3, k)
    val odate = order(seed, z, k).o_orderdate.getTime
    (1 to 1 + r.nextInt(7)).map { ln =>
      val q = 1 + r.nextInt(50)
      val part = r.nextLong(z.parts)
      LineItem(k, part, r.nextLong(z.suppliers), ln, q.toDouble,
        q * (90000 + r.nextInt(20000)) / 100.0, r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, ReturnFlags(r.nextInt(3)),
        LineStatuses(r.nextInt(2)),
        new Timestamp(odate + (1 + r.nextInt(121)) * DayMs))
    }
  }

  def event(seed: Long, z: Sizes, k: Long): Event = {
    val r = rng(seed, 4, k)
    Event(k, new Timestamp(EventEpochMs + r.nextLong(30 * DayMs)),
      r.nextLong(z.users), EventTypes(r.nextInt(5)), r.nextInt(56022) / 100.0,
      s"""{"k": ${r.nextInt(100)}}""")
  }

  private def boilerplate(seed: Long, i: Int): Array[String] = {
    val r = rng(seed, 5, i)
    Array.fill(12)(Vocab(r.nextInt(Vocab.length)))
  }

  /** Document tokens: uniform words, with planted near-copies of earlier
    * documents and shared boilerplate spans, so the dedup operators have
    * clusters, spans and pairs to find. */
  def docTokens(seed: Long, k: Long): Array[String] = {
    val r = rng(seed, 6, k)
    // fixed shares (1 in 16 a near-copy, 1 in 20 with a boilerplate span)
    // so the dedup operators get the same amount of work for every seed
    val base =
      if (k > 50 && k % 16 == 15) {
        val src = docTokens(seed, k - 1 - r.nextLong(math.min(k, 400L)))
        val t = src.clone()
        (0 until r.nextInt(3)).foreach(_ => t(r.nextInt(t.length)) = Vocab(r.nextInt(Vocab.length)))
        t
      } else Array.fill(10 + r.nextInt(91))(Vocab(r.nextInt(Vocab.length)))
    if (k % 20 == 7) {
      val at = r.nextInt(base.length + 1)
      (base.take(at) ++ boilerplate(seed, r.nextInt(8)) ++ base.drop(at)) :+ "dup"
    } else base
  }

  def document(seed: Long, k: Long): Document = {
    val text = docTokens(seed, k).mkString(" ")
    val r = rng(seed, 7, k)
    Document(k, text, Langs(r.nextInt(Langs.length)), s"src${k % 20}", text.length.toLong)
  }

  def embedding(seed: Long, k: Long): Embedding = {
    val r = rng(seed, 8, k)
    val label = r.nextInt(10)
    val c = rng(seed, 9, label)
    val center = Array.fill(64)(c.nextDouble() * 2 - 1)
    Embedding(k, center.map(x => (x * 0.2 + (r.nextDouble() * 2 - 1) * 0.1).toFloat).toSeq, label)
  }

  /** Generated tables, by name. */
  def table(spark: SparkSession, seed: Long, z: Sizes, name: String): Dataset[_] = {
    import spark.implicits._
    val ids = (n: Long) => spark.range(0, n, 1, 4).as[Long]
    name match {
      case "region" => (0 until 5).map(i => Region(i, Regions(i))).toDS()
      case "nation" => (0 until 25).map(nation).toDS()
      case "customer" => ids(z.customers).map(customer(seed, _))
      case "orders" => ids(z.orders).map(order(seed, z, _))
      case "lineitem" => ids(z.orders).flatMap(lineItems(seed, z, _))
      case "events" => ids(z.events).map(event(seed, z, _))
      case "documents" => ids(z.documents).map(document(seed, _))
      case "embeddings" => ids(z.embeddings).map(embedding(seed, _))
    }
  }

  /** Write the named tables as `<dir>/<name>.parquet` directories, as
    * concurrent Spark jobs. */
  def writeTables(spark: SparkSession, seed: Long, z: Sizes, dir: String,
      names: Seq[String]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    try names.map { n =>
      pool.submit(new Runnable {
        def run(): Unit = table(spark, seed, z, n).write.mode("overwrite").parquet(s"$dir/$n.parquet")
      })
    }.foreach(_.get())
    finally pool.shutdown()
  }
}

// ---- trickle: seeded JSON micro-batches and the expected silver state ----

final case class OrderRec(o_orderkey: Long, o_custkey: Long,
    o_orderstatus: String, o_totalprice: Double, o_orderdate: String,
    o_orderpriority: String) {
  def json: String =
    s"""{"o_orderkey":$o_orderkey,"o_custkey":$o_custkey,"o_orderstatus":"$o_orderstatus","o_totalprice":$o_totalprice,"o_orderdate":"$o_orderdate","o_orderpriority":"$o_orderpriority"}"""
  def cents: Long = math.round(o_totalprice * 100)
}

final case class EventRec(event_id: Long, event_date: String, ts: String,
    user_id: Long, event_type: String, value: Double) {
  def json: String =
    s"""{"event_id":$event_id,"event_date":"$event_date","ts":"$ts","user_id":$user_id,"event_type":"$event_type","value":$value}"""
}

/** One micro-batch in ingest order; `keys` are the primary keys. */
final case class Batch[R](rows: Vector[R], keys: Vector[Long])

/** Seeded micro-batch generator. A share of every batch re-sends keys
  * issued earlier (with changed values), and a few records repeat a key
  * already in the same batch. Deterministic for a given seed and call
  * sequence. */
final class TrickleGen(seed: Long, customers: Long = 15000L) {
  private val r = new SplittableRandom(Gen.mix(seed * 31 + 17))
  private var nextOrder = 0L
  private var nextEvent = 0L
  private val dateFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd")
    .withZone(java.time.ZoneOffset.UTC)
  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(java.time.ZoneOffset.UTC)

  private def orderRec(k: Long): OrderRec = OrderRec(k, r.nextLong(customers),
    Gen.Statuses(r.nextInt(3)), (100191 + r.nextInt(49899200)) / 100.0,
    dateFmt.format(java.time.Instant.ofEpochMilli(Gen.OrderEpochMs + r.nextInt(2404) * Gen.DayMs)),
    Gen.Priorities(r.nextInt(5)))

  /** Events arrive in time order (20 s apart); date and ts are fixed per
    * event id, so a re-send changes only the payload. */
  private def eventRec(k: Long): EventRec = {
    val t = java.time.Instant.ofEpochMilli(Gen.EventEpochMs + k * 20000L)
    EventRec(k, dateFmt.format(t), tsFmt.format(t), Gen.mix(seed + k).abs % 1500,
      Gen.EventTypes(r.nextInt(5)), r.nextInt(56022) / 100.0)
  }

  private def batch[R](n: Int, resendShare: Double,
      issued: Long, fresh: () => Long, pickOld: () => Long, make: Long => R,
      key: R => Long): Batch[R] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[R]
    val resend = if (issued == 0) 0 else (n * resendShare).toInt
    (0 until resend).foreach(_ => buf += make(pickOld()))
    (resend until n).foreach(_ => buf += make(fresh()))
    // shuffle so re-sends and new keys interleave
    for (i <- buf.size - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = buf(i); buf(i) = buf(j); buf(j) = t
    }
    // a few in-batch duplicates: a later record repeats an earlier key
    (0 until math.max(1, n / 200)).foreach(_ => buf += make(key(buf(r.nextInt(n)))))
    Batch(buf.toVector, buf.toVector.map(key))
  }

  /** Order keys 0 until ordersIssued have all been sent. */
  def ordersIssued: Long = nextOrder

  def orders(n: Int, resendShare: Double = 0.3): Batch[OrderRec] = {
    val issued = nextOrder
    batch(n, resendShare, issued, () => { nextOrder += 1; nextOrder - 1 },
      () => r.nextLong(issued), orderRec, (o: OrderRec) => o.o_orderkey)
  }

  /** Late updates touch the most recent 5,000 events. */
  def events(n: Int, resendShare: Double = 0.3): Batch[EventRec] = {
    val issued = nextEvent
    batch(n, resendShare, issued, () => { nextEvent += 1; nextEvent - 1 },
      () => issued - 1 - r.nextLong(math.min(issued, 5000L)), eventRec,
      (e: EventRec) => e.event_id)
  }
}

/** Expected silver state, maintained without the Lake: within a batch the
  * earliest record per key wins; across batches the latest batch wins. */
final class Model[R](key: R => Long) {
  val rows = new java.util.HashMap[Long, R]()
  def apply(b: Batch[R]): Unit = {
    val firsts = new java.util.LinkedHashMap[Long, R]()
    b.rows.foreach(x => firsts.putIfAbsent(key(x), x))
    rows.putAll(firsts)
  }
}
