package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val counters: Option[SparkCounters], val queries: Option[QueryListener],
    val seed: Long, val seconds: Double, val runDir: Path, val cores: Int) {
  def call[T](name: String, request: Long = 0L)(body: => T): T =
    tracer.call(spark.sparkContext, name, request)(body)
  def traced: Boolean = tracer.enabled
  /** Every span of `name` (traced runs only). */
  def spans(name: String): Seq[Span] = tracer.all.filter(_.name == name)
  def work(s: Span): Work = counters.map(_.forSpan(s.id)).getOrElse(new Work)
  def drain(): Unit = if (traced) Trace.drain(spark)

  /** Heap the long-lived session still retains after a full GC. */
  def heapAfterGcMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** What one workload run measured. `endToEnd` holds the metrics every
  * workload reports (see BENCHMARK.json); `perLayer` the traced-run
  * metrics; `detail` the workload's own named figures for the report. */
final case class Outcome(correct: Boolean, endToEnd: Map[String, Double],
    perLayer: Map[String, Double], detail: Map[String, Double],
    notes: Seq[String] = Nil)

object Main {
  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
      trace: Boolean = false, cores: Int = 0, runDir: String = "", result: String = "")

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--cores" :: v :: t => parse(t, acc.copy(cores = v.toInt))
    case "--run-dir" :: v :: t => parse(t, acc.copy(runDir = v))
    case "--result" :: v :: t => parse(t, acc.copy(result = v))
    case Nil => acc
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }

  /** The engine's session as graft's own Bench configures it, plus the
    * benchmark's instrumentation in traced runs. */
  def session(a: Args, tracer: Tracer): SparkSession = {
    val dir = Paths.get(a.runDir)
    val b = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .withExtensions(new graft.plans.LakeExtensions)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      .config("spark.sql.files.maxPartitionBytes", s"${4L * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.warehouse.dir", dir.resolve("spark-warehouse").toString)
      .config("spark.local.dir", dir.resolve("spark-local").toString)
      .config("spark.checkpoint.dir", dir.resolve("checkpoints").toString)
    if (tracer.enabled)
      b.withExtensions { e =>
        e.injectParser((_, d) => new TimedParser(tracer, d))
        e.injectResolutionRule(_ => new TrackerProbe(tracer))
      }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val tracer = new Tracer(a.trace)
    val t0 = System.nanoTime()
    val spark = session(a, tracer)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val counters = if (a.trace) Some(new SparkCounters) else None
    val queries = if (a.trace) Some(new QueryListener) else None
    counters.foreach(spark.sparkContext.addSparkListener)
    queries.foreach(spark.listenerManager.register)
    val ctx = new Ctx(spark, tracer, counters, queries, a.seed, a.seconds,
      Paths.get(a.runDir), a.cores)
    val out = try {
      a.workload match {
        case "trickle" => Trickle.run(ctx, sessionS)
        case "operators" => Operators.run(ctx, sessionS)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      ctx.drain()
      counters.foreach(c => tracer.dump(Paths.get(a.runDir).resolve("spans.jsonl"), c))
    }
    val perLayer = if (a.trace) Layers.defaults ++ out.perLayer ++ Map(
      "bench.failed_ratio" -> tracer.failures.toDouble / math.max(1L, tracer.attempts))
    else Map.empty[String, Double]
    val calls = tracer.attempted.asScala.toSeq.sortBy(_._1).map { case (k, v) =>
      k -> Map("attempted" -> v.sum, "failed" ->
        Option(tracer.failed.get(k)).map(_.sum).getOrElse(0L))
    }.toMap
    val rt = Runtime.getRuntime
    val json = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds,
      "identity" -> Map("master" -> spark.sparkContext.master,
        "cores" -> a.cores, "available_processors" -> rt.availableProcessors(),
        "max_heap_mb" -> rt.maxMemory() / 1048576, "spark" -> spark.version,
        "java" -> System.getProperty("java.version")),
      "correct" -> out.correct, "attempted" -> tracer.attempts,
      "failed" -> tracer.failures, "calls" -> calls,
      "end_to_end" -> out.endToEnd, "per_layer" -> perLayer,
      "detail" -> out.detail, "notes" -> out.notes)
    Files.writeString(Paths.get(a.result), json)
    spark.stop()
  }
}
