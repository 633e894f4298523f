package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CrashPoints
import graft.silver.Upsert

/** Differential fuzz of the DEFAULT medallion write path: seeded random
  * batch sequences — key overlap, schema evolution (new columns), key
  * dtype widening (INT → BIGINT), growth-law doublings forced by a tiny
  * byte target — applied through `Upsert.writeMerged`, with the final
  * table compared bit-for-bit against a pure in-memory fold (source
  * wins per key, columns union, missing → null). The QueryService fuzz
  * checks the READ side against DuckDB; this is the same discipline for
  * the WRITE side, where the oracle is the merge semantics themselves.
  *
  * A second pass re-runs each sequence with injected crashes at random
  * swap points: the interrupted batch is REPLAYED (upserts are
  * idempotent per batch — same keys, same values), and the final state
  * must still equal the oracle.
  */
@SlowTest
class MergeFuzzSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  /** One generated batch: rows keyed by Long id. `wideKey` switches the
    * id column to BIGINT (from INT); `extra` adds an evolution column. */
  private case class Batch(rows: Seq[(Long, String, Option[Long])],
      wideKey: Boolean, hasExtra: Boolean)

  private def genBatches(seed: Long, n: Int): Seq[Batch] = {
    val r = new scala.util.Random(seed)
    // dtype NARROWING is a caller bug by contract, so once any batch has
    // widened the key every later batch stays wide
    var wide = false
    (0 until n).map { i =>
      wide = wide || r.nextInt(4) == 0
      val hasExtra = i >= n / 2 // evolution appears mid-sequence
      val rows = (0 until r.nextInt(40) + 10).map { _ =>
        val k = r.nextInt(200).toLong
        (k, s"v${r.nextInt(1000)}",
          if (hasExtra) Some(r.nextInt(50).toLong) else None)
      }
      Batch(rows.distinctBy(_._1), wide, hasExtra)
    }
  }

  private def toDf(b: Batch): DataFrame = {
    val keyType: DataType = if (b.wideKey) LongType else IntegerType
    val fields = StructField("id", keyType) ::
      StructField("v", StringType) ::
      (if (b.hasExtra) List(StructField("c1", LongType, nullable = true))
       else Nil)
    val rows = b.rows.map { case (k, v, e) =>
      val kv: Any = if (b.wideKey) k else k.toInt
      if (b.hasExtra) Row(kv, v, e.orNull) else Row(kv, v)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), StructType(fields))
  }

  /** The pure oracle: last-writer-wins per key, columns union. */
  private def fold(state: Map[Long, (String, Option[Long])], b: Batch)
      : Map[Long, (String, Option[Long])] =
    state ++ b.rows.map { case (k, v, e) =>
      // a batch without the extra column leaves NULL for it on its own
      // rows (unionByName fills missing with null — batch rows WIN
      // whole-row, they don't patch columns)
      k -> (v, e)
    }

  private def readState(path: String): Map[Long, (String, Option[Long])] =
    spark.read.parquet(path).collect().map { r =>
      val k = r.get(r.fieldIndex("id")) match {
        case i: Int => i.toLong
        case l: Long => l
      }
      val e = if (r.schema.fieldNames.contains("c1") &&
          !r.isNullAt(r.fieldIndex("c1")))
        Some(r.getLong(r.fieldIndex("c1"))) else None
      k -> (r.getString(r.fieldIndex("v")), e)
    }.toMap

  // extra seeds for one-off recorded soaks: -Dgraft.mergefuzz.seeds=1,2,3
  private def extraSeeds: Seq[Long] =
    sys.props.get("graft.mergefuzz.seeds").toSeq
      .flatMap(_.split(",")).map(_.trim.toLong)

  test("seeded random batch sequences through writeMerged equal the " +
      "pure fold (evolution, key widening, growth-law doublings)") {
    for (seed <- Seq(11L, 22L, 33L, 44L) ++ extraSeeds) {
      val path = Files.createTempDirectory(s"merge-fuzz-$seed-")
        .resolve("t").toString
      val batches = genBatches(seed, 10)
      var oracle = Map.empty[Long, (String, Option[Long])]
      batches.foreach { b =>
        // tiny byte target: the effective bucket count doubles as the
        // store grows, so the sequence crosses growth-law boundaries
        Upsert.writeMerged(toDf(b), path, Seq("id"), numBuckets = 4,
          targetBucketBytes = 1024)
        oracle = fold(oracle, b)
        assert(readState(path) == oracle,
          s"seed $seed diverged after a batch (wide=${b.wideKey}, " +
            s"extra=${b.hasExtra})")
      }
      val buckets = graft.silver.BucketedState.markerBuckets(path)
      assert(buckets.exists(_ > 4),
        s"seed $seed never crossed a growth-law boundary " +
          s"(buckets=$buckets) — the fuzz lost its doubling coverage")
      Upsert.deleteRecursively(java.nio.file.Paths.get(path).getParent)
    }
  }

  test("crash-injected replays: a batch interrupted at a random swap " +
      "point re-applies idempotently; the final state equals the fold") {
    val points = Seq("swap.staged", "swap.between-renames",
      "swap.before-retire", "state.touched-rename")
    for (seed <- Seq(55L, 66L) ++ extraSeeds.map(_ + 1000L)) {
      val r = new scala.util.Random(seed)
      val path = Files.createTempDirectory(s"merge-crash-$seed-")
        .resolve("t").toString
      val batches = genBatches(seed, 8)
      var oracle = Map.empty[Long, (String, Option[Long])]
      batches.zipWithIndex.foreach { case (b, i) =>
        if (i > 0 && r.nextInt(2) == 0) {
          CrashPoints.armOnce(points(r.nextInt(points.length)))
          // state.touched-rename fires only on the incremental fold
          // path (a growth-boundary or evolution batch takes
          // rewriteAll instead) — a non-firing point means the merge
          // simply landed, and the unconditional replay below
          // re-applies idempotently either way
          val crashed =
            try {
              Upsert.writeMerged(toDf(b), path, Seq("id"), numBuckets = 4,
                targetBucketBytes = 1024)
              false
            } catch { case _: CrashPoints.InjectedCrash => true }
            finally CrashPoints.disarmAll()
          if (crashed) {
            // the table must still read cleanly as SOME prefix state
            // (old or new) — after the heal every real read path runs
            // first (the between-renames window legitimately has no
            // dest)
            Upsert.healSwap(java.nio.file.Paths.get(path))
            readState(path)
          }
        }
        Upsert.writeMerged(toDf(b), path, Seq("id"), numBuckets = 4,
          targetBucketBytes = 1024)
        oracle = fold(oracle, b)
        assert(readState(path) == oracle,
          s"seed $seed diverged after crash+replay at batch $i")
      }
      Upsert.deleteRecursively(java.nio.file.Paths.get(path).getParent)
    }
  }
}
