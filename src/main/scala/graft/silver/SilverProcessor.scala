package graft.silver

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Lake
import graft.core.{EndpointSchema, RefType}

/** Bronze → Silver processing: schema application, PK dedup, upsert —
  * the engine equivalent of the per-S3-event lambda
  * (lambdas/serverless_processing_iceberg/main.py:95-151).
  *
  * Mirrored semantics:
  *  - read new bronze JSONL object(s) with schema merged by name;
  *  - within a batch, keep the EARLIEST `_insert_date` per primary key —
  *    the reference's Polars ordinal-rank-ascending behavior
  *    (main.py:64-74; SURVEY §7.4.2 flags this asymmetry as load-bearing);
  *  - across batches, the upsert makes the LATEST batch win (J3);
  *  - cast bronze ISO strings to real timestamp/date types at silver
  *    (the reference delegates this to Iceberg/DuckDB; SURVEY §1.2);
  *  - drop metadata columns `_insert_date/_domain/_endpoint` before write
  *    (main.py:122-128);
  *  - schema evolution by name-union on every batch (main.py:135-138);
  *  - idempotent silver registration (main.py:148-149).
  *
  * Fixed divergence (SURVEY §7.4.5): the reference processes only
  * `event["Records"][0]` — we process ALL pending files deterministically.
  *
  * Scale notes: the dedup window shuffles once on the PK hash; the upsert
  * is one anti-join (broadcast when the batch is small — AQE decides).
  * Processed-file tracking is a manifest, not a directory diff, so the
  * listing cost stays O(new files).
  */
final class SilverProcessor(lake: Lake) {

  /** Process every not-yet-processed bronze file for one endpoint. */
  def processEndpoint(domain: String, name: String): Option[DataFrame] = {
    val dir = Paths.get(lake.bronzePath(domain, name))
    if (!Files.exists(dir)) return None
    val manifest = dir.resolve("_processed")
    val done: Set[String] =
      if (Files.exists(manifest)) Files.readAllLines(manifest).asScala.toSet
      else Set.empty
    val pending = graft.core.Fs.children(dir)
      .map(_.toString).filter(_.endsWith(".jsonl")).filterNot(done).sorted
    if (pending.isEmpty) return None
    val df = processFiles(domain, name, pending)
    Files.write(manifest, (done ++ pending).toSeq.sorted.asJava)
    Some(df)
  }

  /** Process a specific batch of bronze files (the S3-event path). */
  def processFiles(domain: String, name: String, files: Seq[String]): DataFrame =
    processBatch(domain, name, lake.spark.read.json(files: _*))

  /** Process one raw bronze batch (shared by the batch and streaming
    * paths — foreachBatch calls this per micro-batch). */
  def processBatch(domain: String, name: String, raw: DataFrame): DataFrame = {
    val spark = lake.spark
    val schema = lake.registry.get(domain, name).getOrElse(
      throw new NoSuchElementException(s"endpoint $domain/$name not found"))
    val batch = applySchema(raw, schema)
    val pks = schema.schema.primaryKeys
    val deduped =
      if (pks.nonEmpty) {
        // W1: earliest _insert_date wins within the batch (main.py:64-74)
        val w = Window.partitionBy(pks.map(col): _*)
          .orderBy(col("_insert_date").asc)
        batch.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      } else batch
    val clean = deduped.drop("_insert_date", "_domain", "_endpoint")
    val path = lake.silverPath(domain, name)
    val partition = partitionColumn(schema)
    if (pks.isEmpty) { // no PKs: plain append (main.py:145-146)
      clean.write.mode("append").parquet(path)
    } else partition match {
      // partition-scoped merge when a PK column doubles as the partition
      // key (the 100 TB path — O(touched partitions) per batch)
      case Some(p) => PartitionedUpsert.writeMerged(clean, path, pks, p)
      case None    => Upsert.writeMerged(clean, path, pks)
    }
    lake.registry.registerSilver(domain, name, path)
    lake.registerTable(domain, "silver", name, path)
    // creating a table over existing files does not register their
    // partitions: without this, catalog reads miss every partition
    if (partition.isDefined) spark.catalog.recoverPartitions(s"${domain}_silver.$name")
    spark.read.parquet(path)
  }

  /** A column whose description carries the `partition` marker opts the
    * table into partition-scoped upserts. Partition-stable by
    * construction: only primary-key columns qualify. */
  private def partitionColumn(schema: EndpointSchema): Option[String] =
    schema.schema.columns
      .find(c => c.primaryKey && c.description.exists(_.contains("partition")))
      .map(_.name)

  /** Project to declared columns (+ metadata) and cast bronze's ISO
    * strings / loose numerics to the silver types. */
  private[graft] def applySchema(raw: DataFrame, schema: EndpointSchema): DataFrame = {
    val meta = Seq("_insert_date", "_domain", "_endpoint")
      .filter(raw.columns.contains)
    val cols = schema.schema.columns.map { c =>
      val target = RefType.sparkType(c.refType)
      val base =
        if (raw.columns.contains(c.name)) col(c.name)
        else lit(null)
      val castCol = (c.refType, if (raw.columns.contains(c.name))
          raw.schema(c.name).dataType else NullType) match {
        case (RefType.ArrayT, _: ArrayType) => base.cast(ArrayType(StringType))
        case (RefType.ArrayT, _)            => lit(null).cast(ArrayType(StringType))
        case (RefType.JsonT, StringType)    => base
        case (RefType.JsonT, _: StructType) => to_json(base)
        case (RefType.JsonT, _)             => base.cast(StringType)
        case _                              => base.cast(target)
      }
      castCol.as(c.name)
    } ++ meta.map(col)
    raw.select(cols: _*)
  }
}
