package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.silver.PartitionedUpsert

/** Partition-scoped upsert: correct merge semantics AND the physical
  * property that untouched partitions' files are left as-is. */
class PartitionedUpsertSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  private def listFiles(dir: String): Map[String, Long] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
      .toMap

  test("silver processor routes to partition-scoped upsert when a PK column carries the partition marker") {
    import graft.core._
    val lake = new Lake(spark, Files.createTempDirectory("graft-psilver-").toString)
    lake.registry.create(EndpointSchema("metrics", "ops", 1, SchemaMode.Manual,
      SchemaDefinition(Seq(
        ColumnDefinition("metric_id", RefType.IntegerT, required = true, primaryKey = true),
        ColumnDefinition("day", RefType.StringT, required = true, primaryKey = true,
          description = Some("partition column")),
        ColumnDefinition("value", RefType.DoubleT)))))
    lake.ingest.ingest("ops", "metrics", Seq(
      """{"metric_id": 1, "day": "2024-01-01", "value": 1.0}""",
      """{"metric_id": 2, "day": "2024-01-02", "value": 2.0}"""))
    lake.ingest.flushAll()
    lake.silver.processEndpoint("ops", "metrics")
    // the silver table is physically partitioned by day
    val dirs = Files.list(Paths.get(lake.silverPath("ops", "metrics")))
      .iterator().asScala.map(_.getFileName.toString).toSet
    assert(dirs.exists(_.startsWith("day=")))
    // second batch updates one partition, inserts into it
    lake.ingest.ingest("ops", "metrics", Seq(
      """{"metric_id": 1, "day": "2024-01-01", "value": 9.0}""",
      """{"metric_id": 3, "day": "2024-01-01", "value": 3.0}"""))
    lake.ingest.flushAll()
    val df = lake.silver.processEndpoint("ops", "metrics").get
    assert(df.count() == 3)
    assert(df.filter("metric_id = 1").select("value").head().getDouble(0) == 9.0)
    // the catalog table sees the merged partitions too
    val read = lake.query.run(
      "SELECT metric_id, value FROM ops.silver.metrics ORDER BY metric_id")
      .fold(err => fail(err), identity)
    assert(read.rowCount == 3)
    assert(read.rows.head == Seq(1, 9.0))
  }

  test("merge rewrites only the touched partitions") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-part-").toString + "/t"
    val base = Seq(
      (1L, "2024-01-01", "a"), (2L, "2024-01-01", "b"),
      (3L, "2024-01-02", "c"), (4L, "2024-01-03", "d"))
      .toDF("id", "day", "v")
    PartitionedUpsert.writeMerged(base, path, Seq("id"), "day")
    val before = listFiles(path)

    // batch touches only 2024-01-01: update id=1, insert id=5
    val batch = Seq((1L, "2024-01-01", "a2"), (5L, "2024-01-01", "e"))
      .toDF("id", "day", "v")
    PartitionedUpsert.writeMerged(batch, path, Seq("id"), "day")

    val after = spark.read.parquet(path)
    assert(after.count() == 5)
    assert(after.filter($"id" === 1).select("v").head().getString(0) == "a2")
    assert(after.filter($"id" === 2).select("v").head().getString(0) == "b")

    // physical check: files under day=2024-01-02 / 03 are byte-for-byte
    // untouched (same paths, same mtimes); day=2024-01-01 was rewritten
    val post = listFiles(path)
    val untouchedBefore = before.filter(!_._1.contains("day=2024-01-01"))
    val untouchedAfter = post.filter(!_._1.contains("day=2024-01-01"))
    assert(untouchedBefore == untouchedAfter, "untouched partitions changed")
    assert(post.keys.exists(_.contains("day=2024-01-01")))
    assert(before.keySet.filter(_.contains("day=2024-01-01")) !=
      post.keySet.filter(_.contains("day=2024-01-01")))
  }

  test("reads with a partition predicate are partition-pruned at the scan") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft-prune-").toString + "/t"
    val base = Seq(
      (1L, "2024-01-01", "a"), (2L, "2024-01-02", "b"),
      (3L, "2024-01-03", "c"))
      .toDF("id", "day", "v")
    PartitionedUpsert.writeMerged(base, path, Seq("id"), "day")
    val q = spark.read.parquet(path).filter($"day" === "2024-01-02")
    val plan = q.queryExecution.executedPlan.toString
    // the day predicate must land in PartitionFilters (directory-level
    // pruning — at 100 TB the difference between listing one partition
    // and scanning the table), NOT as a post-scan data filter
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("2024-01-02"),
      s"partition predicate not pruned:\n$plan")
    assert(q.count() == 1)
  }
}
