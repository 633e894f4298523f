package graft.tools

import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Cross-process differential merge racer (r14 verdict task 1): the
  * composition proof that the cross-process fence (r13) and the
  * touched-bucket staged write (r14) hold TOGETHER under real
  * multi-process contention. Where [[FenceRace]] races a bare counter
  * through the swap protocol, this main drives the full default
  * medallion write path — `Upsert.writeMerged`'s bucket-scoped fold,
  * growth-law doublings (rewriteAll races folds), schema evolution —
  * from a second JVM against ONE bucketed table, retrying on the two
  * documented rejection shapes (ConcurrentWriteException anywhere in
  * the chain, FAILED_READ_FILE scans of a retired generation).
  *
  * Every process appends to its OWN commit log: `start <i>` before a
  * batch's first attempt, `done <i>` after its commit returned. A
  * kill -9 between commit and `done` leaves one trailing ambiguous
  * index, which the verifier resolves by idempotent REPLAY (same
  * batch, same keys, same values — the crash-matrix discipline) before
  * folding the logs into the oracle.
  *
  * Key layout per process: a private range (exact last-writer-wins
  * fold is order-independent across processes there) plus a SHARED
  * overlap range. Both ranges hash across all buckets, so bucket-level
  * lost updates — the actual composition risk: writer A's carry
  * linking files writer B's swap just retired — surface on every key.
  * For shared keys the global commit order is unobservable from
  * per-process logs, so the oracle there is the linearizability
  * candidate set: the final value must be the LAST committed value of
  * ONE of the writers (an older batch's value resurfacing, or the key
  * vanishing, is a torn composition).
  *
  * Reference behavior anchor: the reference serializes all writes via
  * an S3-event single-writer Lambda
  * (serverless_processing_iceberg/main.py:154-160) — this engine
  * claims strictly more: concurrent multi-process writers with
  * serialize-or-reject semantics.
  */
object MergeRace {

  /** Shared overlap keys start here; both processes write them. */
  val SharedBase = 5000L
  val SharedSpan = 40

  final case class Batch(idx: Int, rows: Seq[(Long, String, Option[Long])],
      hasExtra: Boolean)

  /** Deterministic batch sequence — both the child main and the
    * verifying parent regenerate it from (seed, n, keyBase, keySpan),
    * so replaying an ambiguous index needs no cross-process plumbing.
    * ~30% of rows land in the shared overlap range; values encode
    * (seed, batch) so a resurfaced stale value is attributable. */
  def genBatches(seed: Long, n: Int, keyBase: Long, keySpan: Int)
      : Seq[Batch] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val hasExtra = i >= n / 2 // evolution appears mid-sequence
      val rows = (0 until r.nextInt(30) + 10).map { _ =>
        val k = if (r.nextInt(10) < 3) SharedBase + r.nextInt(SharedSpan)
          else keyBase + r.nextInt(keySpan)
        (k, s"s$seed-b$i-v${r.nextInt(1000)}",
          if (hasExtra) Some(r.nextInt(50).toLong) else None)
      }
      Batch(i, rows.distinctBy(_._1), hasExtra)
    }
  }

  def toDf(spark: SparkSession, b: Batch): DataFrame = {
    val fields = StructField("id", LongType) ::
      StructField("v", StringType) ::
      (if (b.hasExtra) List(StructField("c1", LongType, nullable = true))
       else Nil)
    val rows = b.rows.map { case (k, v, e) =>
      if (b.hasExtra) Row(k, v, e.orNull) else Row(k, v)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType(fields))
  }

  /** The pure per-process oracle: last-writer-wins per key, whole-row. */
  def fold(state: Map[Long, (String, Option[Long])], b: Batch)
      : Map[Long, (String, Option[Long])] =
    state ++ b.rows.map { case (k, v, e) => k -> (v, e) }

  /** Both rejection shapes a concurrent fenced commit can surface as
    * (the whole cause chain — FAILED_READ_FILE arrives wrapped, with
    * several sub-codes). */
  def isRetryable(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(12)
      .exists(t => t.isInstanceOf[graft.core.ConcurrentWriteException] ||
        Option(t.getMessage).exists(_.contains("FAILED_READ_FILE")))

  /** One batch through the real write path, retry-on-rejection. */
  def applyBatch(spark: SparkSession, path: String, b: Batch,
      maxTries: Int = 500): Unit = {
    var tries = 0
    while (true) {
      try {
        graft.silver.Upsert.writeMerged(toDf(spark, b), path, Seq("id"),
          numBuckets = 4, targetBucketBytes = 1024)
        return
      } catch {
        case e: Exception if isRetryable(e) && tries < maxTries =>
          tries += 1
      }
    }
  }

  private def log(p: Path, line: String): Unit =
    Files.writeString(p, line + "\n", StandardOpenOption.CREATE,
      StandardOpenOption.APPEND)

  /** Fold the whole generated sequence into the table, journaling each
    * batch's lifecycle to the per-process commit log. */
  def run(spark: SparkSession, table: String, logPath: Path, seed: Long,
      n: Int, keyBase: Long, keySpan: Int): Unit =
    genBatches(seed, n, keyBase, keySpan).foreach { b =>
      log(logPath, s"start ${b.idx}")
      applyBatch(spark, table, b)
      log(logPath, s"done ${b.idx}")
    }

  /** The committed prefix a per-process log proves, plus the one
    * ambiguous trailing index (started, never marked done) if any. */
  def parseLog(logPath: Path): (Set[Int], Option[Int]) = {
    if (!Files.exists(logPath)) return (Set.empty, None)
    val lines = Files.readString(logPath).linesIterator.toSeq
    val done = lines.collect { case s if s.startsWith("done ") =>
      s.drop(5).trim.toInt }.toSet
    val started = lines.collect { case s if s.startsWith("start ") =>
      s.drop(6).trim.toInt }.toSet
    (done, (started -- done).maxOption)
  }

  /** args: <tableDir> <logFile> <seed> <nBatches> <keyBase> <keySpan> */
  def main(args: Array[String]): Unit = {
    val Array(table, logFile, seed, n, keyBase, keySpan) = args.take(6)
    val spark = graft.core.Sessions.get(2)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      run(spark, table, Paths.get(logFile), seed.toLong, n.toInt,
        keyBase.toLong, keySpan.toInt)
      println("MERGE_RACE_OK")
    } finally spark.stop()
  }
}
