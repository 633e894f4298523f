package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CrashPoints
import graft.silver.{BucketedTables, Snapshots, Upsert}

/** Crash-point fault-injection matrix over the three commit protocols
  * (r11 verdict task 3): for EVERY named step of each protocol, kill the
  * writer exactly there and assert
  *  (1) a subsequent reader sees the OLD or the NEW state — never mixed,
  *      never silently empty (a clean read failure is allowed only in
  *      the documented missing-dir/missing-table windows);
  *  (2) heal/retention repairs the store: the NEXT writer completes and
  *      the final content equals what an uninterrupted history gives.
  *
  * Points: `swap.staged` / `swap.between-renames` / `swap.before-retire`
  * (the path-store atomic swap shared by keyed merges, bucketed state
  * folds, and streaming gold state); `snapshot.staged` /
  * `snapshot.pointer-tmp` (the versioned-snapshot pointer protocol);
  * `buckets.staged` / `buckets.dropped` / `buckets.renamed` (the
  * catalog-table DROP+RENAME generation swap).
  */
@SlowTest
class CrashMatrixSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  private def df(pairs: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("id", "v")
  }

  private def rowsOf(d: DataFrame): Map[Long, String] =
    d.select(col("id").cast("long"), col("v")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private val base = (1L to 60L).map(i => i -> s"a-$i")
  private val batch = (1L to 6L).map(i => i -> s"b-$i")
  private val batch2 = (55L to 62L).map(i => i -> s"c-$i")
  private val afterBase = base.toMap
  private val afterBatch = afterBase ++ batch
  private val afterBoth = afterBatch ++ batch2

  // ------------------------------------------------------------------
  // Protocol 1: the path-store atomic swap (keyed writeMerged → fold)
  // ------------------------------------------------------------------

  // state.touched-rename is the r14 touched-bucket write's new crash
  // surface: a kill mid-rename leaves a staging dir with MIXED
  // rank/bucket file names — never swapped in, so the reader still
  // sees the old state and the heal sweeps the whole stage.
  // state.manifest is the r15 manifest's: a kill AFTER the staged
  // `_graft_manifest` is written but BEFORE the swap must sweep the
  // stage whole — a committed store and its manifest never diverge
  for (point <- Seq("swap.staged", "swap.between-renames",
      "swap.before-retire", "state.touched-rename", "state.manifest")) {
    test(s"path swap killed at $point: reader sees old-or-new, heal " +
        "repairs, next merge lands") {
      val path = Files.createTempDirectory("crash-swap-")
        .resolve("t").toString
      Upsert.writeMerged(df(base), path, Seq("id"))
      CrashPoints.armOnce(point)
      try intercept[CrashPoints.InjectedCrash] {
        Upsert.writeMerged(df(batch), path, Seq("id"))
      } finally CrashPoints.disarmAll()
      // READER after the crash: old state, new state, or (only in the
      // between-renames window, where the dir is mid-rename) a clean
      // failure — never a mix, never silently empty
      val seen = scala.util.Try(rowsOf(spark.read.parquet(path)))
      seen match {
        case scala.util.Success(got) =>
          assert(got == afterBase || got == afterBatch,
            s"MIXED/TORN state at $point: ${got.size} rows")
        case scala.util.Failure(_) =>
          assert(point == "swap.between-renames",
            s"reader failed outside the documented window ($point)")
      }
      // HEAL: healSwap restores a readable state (the pre-crash one for
      // an interrupted swap — the batch replays; the committed one if
      // the swap had landed)
      Upsert.healSwap(Paths.get(path))
      val healed = rowsOf(spark.read.parquet(path))
      assert(healed == afterBase || healed == afterBatch,
        s"healed state at $point is neither old nor new")
      // NEXT WRITER: replay the batch, then merge a second one — the
      // final table equals the uninterrupted history
      Upsert.writeMerged(df(batch), path, Seq("id"))
      Upsert.writeMerged(df(batch2), path, Seq("id"))
      assert(rowsOf(spark.read.parquet(path)) == afterBoth,
        s"final state after heal+replay at $point is wrong")
      // no stray staging/old siblings survive
      val strays = graft.core.Fs.children(
        Paths.get(path).toAbsolutePath.getParent)
        .map(_.getFileName.toString)
        .filter(n => n.contains(".tmp-") || n.contains(".old-"))
      assert(strays.isEmpty, s"stray swap siblings after heal: $strays")
    }
  }

  // ------------------------------------------------------------------
  // Protocol 2: the snapshot pointer protocol
  // ------------------------------------------------------------------

  for (point <- Seq("snapshot.staged", "snapshot.pointer-tmp")) {
    test(s"snapshot commit killed at $point: readers serve only " +
        "committed versions, heal sweeps the dead stage, history stays " +
        "linear") {
      val table = Files.createTempDirectory("crash-snap-")
        .resolve("t").toString
      Snapshots.commitMerged(df(base), table, Seq("id"))
      CrashPoints.armOnce(point)
      try intercept[CrashPoints.InjectedCrash] {
        Snapshots.commitMerged(df(batch), table, Seq("id"))
      } finally CrashPoints.disarmAll()
      // the pointer never moved: readers see exactly the old version
      assert(Snapshots.latestVersion(table) == 0L)
      assert(rowsOf(Snapshots.read(spark, table)) == afterBase)
      assert(Snapshots.versions(table) == Seq(0L),
        "a dead stage is visible in the version list")
      // next commit heals (sweeps the dead stage dir and any pointer
      // tmp) and lands as version 1 — linear, nothing lost
      Snapshots.commitMerged(df(batch), table, Seq("id"))
      assert(Snapshots.versions(table) == Seq(0L, 1L))
      assert(rowsOf(Snapshots.read(spark, table)) == afterBatch)
      val strays = graft.core.Fs.children(Paths.get(table))
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("_latest.tmp-") || n == "_v000002")
      assert(strays.isEmpty, s"dead stage not swept: $strays")
      Snapshots.commitMerged(df(batch2), table, Seq("id"))
      assert(rowsOf(Snapshots.read(spark, table)) == afterBoth)
    }
  }

  // ------------------------------------------------------------------
  // Protocol 3: the catalog-table generation swap (DROP + RENAME)
  // ------------------------------------------------------------------

  for (point <- Seq("buckets.staged", "buckets.dropped",
      "buckets.renamed")) {
    test(s"catalog swap killed at $point: reader sees old-or-new (or " +
        "fails cleanly in the dropped window), heal rolls forward, " +
        "next merge lands") {
      val db = "crashdb"
      val tbl = s"t_${point.replace('.', '_').replace('-', '_')}"
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
      BucketedTables.writeMerged(spark, db, tbl, df(base), Seq("id"))
      CrashPoints.armOnce(point)
      try intercept[CrashPoints.InjectedCrash] {
        BucketedTables.writeMerged(spark, db, tbl, df(batch), Seq("id"))
      } finally CrashPoints.disarmAll()
      val seen = scala.util.Try(rowsOf(spark.table(s"$db.$tbl")))
      seen match {
        case scala.util.Success(got) =>
          assert(got == afterBase || got == afterBatch,
            s"MIXED/TORN catalog state at $point")
        case scala.util.Failure(_) =>
          assert(point == "buckets.dropped",
            s"reader failed outside the dropped window ($point)")
      }
      // next writer: healCatalogSwap rolls an interrupted swap forward
      // (the staged generation IS the committed next state), then the
      // new batch merges on top — nothing lost either way
      BucketedTables.writeMerged(spark, db, tbl, df(batch2), Seq("id"))
      val fin = rowsOf(spark.table(s"$db.$tbl"))
      // at buckets.staged the interrupted batch was NOT yet swapped in
      // (it replays in a real pipeline); from buckets.dropped on, the
      // staged generation was complete and the heal commits it
      if (point == "buckets.staged")
        assert(fin == afterBase ++ batch2.toMap,
          "staged-but-unswapped batch leaked into the table")
      else
        assert(fin == afterBoth,
          s"roll-forward lost the interrupted batch at $point")
      // replay the batch: converges to the full history in both cases
      BucketedTables.writeMerged(spark, db, tbl, df(batch), Seq("id"))
      val replayed = rowsOf(spark.table(s"$db.$tbl"))
      // batch2 overlaps batch on no keys, so replay-last gives afterBoth
      assert(replayed == afterBoth)
      spark.sql(s"DROP TABLE IF EXISTS $db.$tbl")
      spark.sql(s"DROP TABLE IF EXISTS $db.${tbl}__merge_tmp")
    }
  }
}
