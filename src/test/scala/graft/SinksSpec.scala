package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.extract.RestExtract
import graft.sources.{Sinks, Tables}

/** Export sinks (S12/S13 analog), compaction maintenance, batched delivery
  * (S14), and sample-rows preview (L4). */
class SinksSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("export round-trips parquet/json/csv with identical counts") {
    val df = Tables.load(spark, "/root/testdata/sf0.001", "nation")
    val base = Files.createTempDirectory("graft-export-").toString
    for (fmt <- Seq("parquet", "json", "csv")) {
      Sinks.export(df, s"$base/$fmt", fmt)
      val back = spark.read.format(fmt)
        .option("header", "true").load(s"$base/$fmt")
      assert(back.count() == df.count(), fmt)
    }
    intercept[IllegalArgumentException] { Sinks.export(df, s"$base/x", "xml") }
  }

  test("compact rewrites a table into the requested file count") {
    val base = Files.createTempDirectory("graft-compact-").toString
    val path = s"$base/t"
    import spark.implicits._
    (1 to 1000).toDF("n").repartition(16).write.parquet(path)
    def parquetFiles = Files.list(Paths.get(path)).iterator()
    assert({ var c = 0; parquetFiles.forEachRemaining(p =>
      if (p.toString.endsWith(".parquet")) c += 1); c } == 16)
    Sinks.compact(spark.read.parquet(path), path, numFiles = 2)
    assert({ var c = 0; parquetFiles.forEachRemaining(p =>
      if (p.toString.endsWith(".parquet")) c += 1); c } == 2)
    assert(spark.read.parquet(path).count() == 1000)
  }

  test("batched delivery slices records in 25s (S14)") {
    val records = (1 to 60).map(i => s"""{"i": $i}""")
    val batches = scala.collection.mutable.Buffer.empty[Int]
    val n = RestExtract.deliverBatches(records)(b => batches += b.size)
    assert(n == 3 && batches.toSeq == Seq(25, 25, 10))
  }

  test("sampleRows returns n row-maps (L4)") {
    val lake = new Lake(spark, Files.createTempDirectory("graft-sample-").toString)
    val path = lake.silverPath("d", "t")
    import spark.implicits._
    (1 to 10).map(i => (i, s"name$i")).toDF("id", "name").write.parquet(path)
    lake.registry.registerSilver("d", "t", path)
    lake.registerTable("d", "silver", "t", path)
    val rows = lake.catalog.sampleRows("d", "silver", "t", n = 5)
    assert(rows.size == 5 && rows.head.contains("id") && rows.head.contains("name"))
  }
}
