package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.QualifiedTableName
import org.scalatest.funsuite.AnyFunSuite

import graft.silver.Upsert

/** Post-merge cache invalidation is scoped to the written table (r12
  * verdict task 4): `Upsert.writeMerged` used to end with
  * `invalidateAllCachedTables()` — at 100× scale, with many registered
  * tables and per-minute micro-batches, that evicts every cached
  * relation engine-wide on every merge of ANY table. With
  * [[graft.core.TableIndex]] (fed by Lake's registrations) the writer
  * refreshes exactly the relations registered over the written path; an
  * UNRELATED table's cached relation must survive the merge. */
class CacheScopeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.session

  /** The relation-cache entry for db.table, probing both key shapes the
    * SessionCatalog uses across versions. */
  private def cached(db: String, table: String): Boolean = {
    val c = spark.sessionState.catalog
    c.getCachedTable(QualifiedTableName(db, table)) != null ||
      c.getCachedTable(
        QualifiedTableName("spark_catalog", db, table)) != null
  }

  test("a merge on one registered path refreshes only that table's " +
      "relation; an unrelated cached relation survives") {
    import spark.implicits._
    val root = Files.createTempDirectory("cache-scope-").toString
    val lake = new Lake(spark, root)
    val pa = s"$root/silver/shop/ta"
    val pb = s"$root/silver/shop/tb"
    Upsert.writeMerged(Seq((1L, "a")).toDF("id", "v"), pa, Seq("id"))
    Upsert.writeMerged(Seq((1L, "b")).toDF("id", "v"), pb, Seq("id"))
    lake.registerTable("shop", "silver", "ta", pa)
    lake.registerTable("shop", "silver", "tb", pb)

    // populate the relation cache through the catalog names
    assert(spark.table("shop_silver.ta").count() == 1L)
    assert(spark.table("shop_silver.tb").count() == 1L)
    assert(cached("shop_silver", "ta") && cached("shop_silver", "tb"),
      "relation cache did not populate — the probe key shape changed; " +
        "update CacheScopeSpec.cached")

    // merge into ta: tb's relation must stay cached, and ta must still
    // read correctly through its (refreshed) catalog name
    Upsert.writeMerged(Seq((2L, "a2")).toDF("id", "v"), pa, Seq("id"))
    assert(cached("shop_silver", "tb"),
      "merge on ta evicted tb's cached relation — invalidation is not " +
        "scoped to the written table")
    assert(spark.table("shop_silver.ta").count() == 2L,
      "ta reads stale/broken file listing after its merge")
    assert(spark.table("shop_silver.tb").count() == 1L)

    // an UNREGISTERED path still invalidates coarsely (correctness
    // first when the writer can't know the table name) — and the
    // registered tables keep working after it
    val pc = s"$root/silver/shop/tc-unregistered"
    Upsert.writeMerged(Seq((1L, "c")).toDF("id", "v"), pc, Seq("id"))
    assert(spark.table("shop_silver.ta").count() == 2L)
    Upsert.deleteRecursively(java.nio.file.Paths.get(root))
  }
}
