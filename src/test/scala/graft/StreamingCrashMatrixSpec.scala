package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CrashPoints
import graft.streaming.{GoldStream, StatefulDedup}

/** Streaming crash-recovery matrix (r12 verdict task 6): CrashMatrixSpec
  * kills the BATCH stores at every crash point; here the SAME injected
  * kills hit a live `foreachBatch` gold fold — a real streaming query
  * with a RocksDB-backed stateful dedup upstream and a file checkpoint —
  * and the query is RESTARTED from its checkpoint. Exactly-once must
  * hold end-to-end: the re-delivered micro-batch folds exactly once
  * (crash before the state swap landed) or is skipped by the replay
  * watermark (crash after), never double-folded, never lost; the
  * dedup's RocksDB state recovers alongside.
  */
class StreamingCrashMatrixSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val ProviderConf = "spark.sql.streaming.stateStore.providerClass"

  private def withRocksDb[T](body: => T): T = {
    val prior = spark.conf.getOption(ProviderConf)
    spark.conf.set(ProviderConf, RocksDb)
    try body
    finally prior match {
      case Some(v) => spark.conf.set(ProviderConf, v)
      case None => spark.conf.unset(ProviderConf)
    }
  }

  private def sums(statePath: String): Map[String, Long] =
    spark.read.parquet(statePath).collect()
      .map(r => r.getAs[String]("k") -> r.getAs[Long]("sum_cents")).toMap

  for (point <- Seq("swap.staged", "swap.between-renames",
      "swap.before-retire")) {
    test(s"gold stream killed at $point: restart from checkpoint is " +
        "exactly-once (RocksDB provider)") { withRocksDb {
      import spark.implicits._
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val dir = Files.createTempDirectory(s"stream-crash-")
      val statePath = dir.resolve("gold").toString
      val ckpt = dir.resolve("ckpt").toString
      val measures = Map("cents" -> col("cents"))
      val input = MemoryStream[(String, Long, Long)]
      // RocksDB-backed stateful dedup by event id upstream of the fold:
      // the checkpoint now carries real state-store state through the
      // crash/restart, not just source offsets
      val deduped = StatefulDedup.firstSeen(
        input.toDF().toDF("k", "cents", "eid"),
        keyCols = Seq("eid"), orderCols = Seq("cents"))
      def start() = GoldStream.maintain(deduped, statePath, ckpt,
        keys = Seq("k"), measures = measures,
        trigger = Trigger.ProcessingTime(0))

      val q1 = start()
      try {
        // batch with an in-batch duplicate event (eid 1): dedup keeps one
        input.addData(("a", 100L, 1L), ("a", 100L, 1L), ("b", 10L, 2L))
        q1.processAllAvailable()
        assert(sums(statePath) == Map("a" -> 100L, "b" -> 10L))

        CrashPoints.armOnce(point)
        input.addData(("a", 25L, 3L), ("c", 7L, 4L))
        val crashed = scala.util.Try(q1.processAllAvailable())
        assert(crashed.isFailure || q1.exception.isDefined,
          s"injected crash at $point did not terminate the query")
        val cause = q1.exception.map { e =>
          Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).take(10)
            .exists(_.isInstanceOf[CrashPoints.InjectedCrash])
        }
        assert(cause.contains(true),
          s"query died of something other than the injected crash: " +
            s"${q1.exception.map(_.getMessage)}")
      } finally { CrashPoints.disarmAll(); q1.stop() }

      // restart from the SAME checkpoint: the failed micro-batch is
      // re-delivered; the fold applies it exactly once (or skips it if
      // the crashed attempt's swap had already landed)
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(sums(statePath) == Map("a" -> 125L, "b" -> 10L, "c" -> 7L),
          s"state after restart at $point is not exactly-once")
        // stream continues: a later batch folds on top, and a replayed
        // EVENT ID (eid 2) is still deduped by the recovered RocksDB state
        input.addData(("b", 1L, 5L), ("b", 999L, 2L))
        q2.processAllAvailable()
        assert(sums(statePath) == Map("a" -> 125L, "b" -> 11L, "c" -> 7L),
          s"post-restart fold at $point is wrong (dedup state lost or " +
            "batch double-folded)")
        assert(GoldStream.lastApplied(statePath) == 2L)
      } finally q2.stop()
      graft.silver.Upsert.deleteRecursively(dir)
    }}
  }
}
