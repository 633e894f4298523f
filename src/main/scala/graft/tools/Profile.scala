package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{Bench, SparkEntry}

/** Profile named queries on the engine Bench times (same session factory,
  * same silver layouts): for each query, write its `explain("formatted")`
  * plan, run it once through the noop sink, and print per-stage wall time,
  * task time, shuffle read/write bytes and spill.
  *
  * Usage: runMain graft.tools.Profile <query>[,query...] <sfDir> [planDir]
  * With planDir each plan goes to `<planDir>/<query>.txt` (that is how
  * `plans/<tag>/` is regenerated); without it, to stdout. Cores come from
  * SPARK_GRAFT_CPUS (default 32, as in Bench).
  */
object Profile {
  private val Marker = "graft.tools.Profile drain marker"

  /** Completed stages as the listener bus delivers them. */
  private final class StageLog extends SparkListener {
    private val done = ArrayBuffer.empty[StageInfo]
    private var markerStages = Set.empty[Int]
    private var drained = new CountDownLatch(1)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null &&
          e.properties.getProperty("spark.job.description") == Marker)
        markerStages ++= e.stageIds
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        if (markerStages(e.stageInfo.stageId)) drained.countDown()
        else done += e.stageInfo
      }

    /** The stages completed since the last call. The bus delivers events in
      * order, so once a marker job's stage arrives every stage that ran
      * before it has arrived too. */
    def take(sc: SparkContext): Seq[StageInfo] = {
      val latch = synchronized(drained)
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      require(latch.await(60, TimeUnit.SECONDS), "listener bus did not drain")
      synchronized {
        val out = done.toList
        done.clear(); drained = new CountDownLatch(1)
        out
      }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: runMain graft.tools.Profile <query>[,query...] <sfDir> [planDir]")
      sys.exit(2)
    }
    val names = args(0).split(',').map(_.trim).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val sfDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.core.Sessions.get(cpus, "target/profile-warehouse")
    spark.sparkContext.setLogLevel("WARN")
    try {
      Bench.maintainLayouts(spark, sfDir)
      run(spark, names, sfDir, args.lift(2))
    } finally spark.stop()
  }

  /** Profile `names` over `sfDir` on `spark` as it stands (`main` builds
    * Bench's silver layouts first). */
  def run(spark: SparkSession, names: Seq[String], sfDir: String,
      planDir: Option[String]): Unit = {
    planDir.foreach(d => Files.createDirectories(Paths.get(d)))
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    try names.foreach(profile(spark, log, sfDir, planDir, _))
    finally spark.sparkContext.removeSparkListener(log)
  }

  private def profile(spark: SparkSession, log: StageLog, sfDir: String,
      planDir: Option[String], name: String): Unit =
    SparkEntry.withQueryConfs(spark, name) {
      spark.sharedState.cacheManager.clearCache()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(FormattedMode)
      planDir match {
        case Some(d) =>
          Files.writeString(Paths.get(d, s"$name.txt"), plan)
          println(s"[profile] $name: plan written to $d/$name.txt")
        case None => println(plan)
      }
      log.take(spark.sparkContext)
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val wallMs = (System.nanoTime() - t0) / 1000000
      val stages = log.take(spark.sparkContext).sortBy(_.stageId)
      println(s"[profile] $name: $wallMs ms wall, ${stages.size} stages")
      println("[profile]   stage  wall_ms  tasks  task_ms  shuffle_read_b  " +
        "shuffle_write_b  spill_mem_b  spill_disk_b")
      stages.foreach { s =>
        val m = s.taskMetrics
        val wall = for (a <- s.submissionTime; b <- s.completionTime) yield b - a
        println(f"[profile]   ${s.stageId}%5d ${wall.getOrElse(-1L)}%8d " +
          f"${s.numTasks}%6d ${m.executorRunTime}%8d " +
          f"${m.shuffleReadMetrics.totalBytesRead}%15d " +
          f"${m.shuffleWriteMetrics.bytesWritten}%16d " +
          f"${m.memoryBytesSpilled}%12d ${m.diskBytesSpilled}%13d  ${s.name}")
      }
    }
}
