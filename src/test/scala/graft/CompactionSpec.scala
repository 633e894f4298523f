package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Compaction, Tables}

/** Read-layout optimization (Compaction.loadOptimized) + Tables cache
  * fingerprinting/invalidation. */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def writeSingleRowGroup(rows: Int): String = {
    val base = Files.createTempDirectory("graft-compaction-").toString
    import spark.implicits._
    // coalesce(1) -> one file, one row group (well under the 128MB default
    // row-group size), i.e. the unsplittable layout the pass exists for
    (1 to rows).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(s"$base/t")
    val f = Files.list(Paths.get(s"$base/t")).iterator()
    var file: String = null
    f.forEachRemaining(p => if (p.toString.endsWith(".parquet")) file = p.toString)
    assert(file != null)
    file
  }

  test("single-row-group table is rewritten into parallel splits with identical rows") {
    val file = writeSingleRowGroup(60000)
    val df = Compaction.loadOptimized(spark, file, identity)
    // 60k rows / 20k targetRows = 3 output files (scan-partition count
    // additionally depends on maxPartitionBytes/openCostInBytes)
    assert(df.inputFiles.length == 3)
    assert(df.count() == 60000)
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0)
      == 60000L * 60001 / 2)
    // second load hits the cached compacted copy (same fingerprint)
    val again = Compaction.loadOptimized(spark, file, identity)
    assert(again.count() == 60000)
  }

  test("small tables and already-split tables are left alone") {
    val file = writeSingleRowGroup(100)
    val df = Compaction.loadOptimized(spark, file, identity)
    assert(df.inputFiles.toSeq.map(new java.net.URI(_).getPath) == Seq(file))
  }

  test("Tables cache re-resolves when the source file is rewritten") {
    val base = Files.createTempDirectory("graft-tabcache-").toString
    import spark.implicits._
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$base/tiny.parquet")
    assert(Tables.load(spark, base, "tiny").count() == 1)
    // rewrite with more rows; mtime/size change -> new fingerprint
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$base/tiny.parquet")
    assert(Tables.load(spark, base, "tiny").count() == 3)
    // explicit invalidation hook also drops the entry without error
    Tables.invalidate(base, "tiny")
    assert(Tables.load(spark, base, "tiny").count() == 3)
  }

  test("vacuum removes orphaned compactions, keeps live and staging dirs") {
    import java.nio.file.{Files, Paths}
    val base = Paths.get(sys.props("java.io.tmpdir"), "graft-compacted")
    Files.createDirectories(base)
    val live = "/root/testdata/sf0.001/lineitem.parquet"
    val liveName = s"lineitem-${graft.sources.Compaction.fingerprint(live)}"
    val keep = base.resolve(liveName)
    val orphan = base.resolve("lineitem-deadbeef")
    val staging = base.resolve(".lineitem-cafe.tmp-123")
    Seq(keep, orphan, staging).foreach(Files.createDirectories(_))
    // retention grace: a just-touched orphan survives the default window
    // (another JVM may be mid-scan on it)
    graft.sources.Compaction.vacuum(Seq(live))
    assert(Files.isDirectory(orphan),
      "fresh orphan must survive the retention window")
    val removed = graft.sources.Compaction.vacuum(Seq(live), retentionMs = 0)
    assert(Files.isDirectory(keep), "live compaction must survive")
    assert(!Files.exists(orphan), "orphan must be removed past retention")
    assert(Files.isDirectory(staging), "in-flight staging dir must survive")
    assert(removed >= 1)
    Files.deleteIfExists(staging); Files.deleteIfExists(keep)
  }
}
