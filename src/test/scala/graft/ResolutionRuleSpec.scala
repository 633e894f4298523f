package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.core._

/** Catalyst-level `domain.layer.table` resolution (SURVEY §4.3.1): a
  * session with LakeExtensions (every `core.Sessions` session) resolves
  * three-part lake names inside the analyzer — no string rewriting
  * involved. */
class ResolutionRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("analyzer resolves silver/gold catalog names and bronze JSON scans") {
    val lake = new Lake(spark, Files.createTempDirectory("graft-rule-").toString)
    lake.registry.create(EndpointSchema("items", "shop", 1, SchemaMode.Manual,
      SchemaDefinition(Seq(
        ColumnDefinition("item_id", RefType.IntegerT, required = true, primaryKey = true),
        ColumnDefinition("price", RefType.DoubleT)))))
    lake.ingest.ingest("shop", "items", Seq(
      """{"item_id": 1, "price": 9.5}""", """{"item_id": 2, "price": 1.5}"""))
    lake.ingest.flushAll()
    lake.silver.processEndpoint("shop", "items")

    // silver through the analyzer rule — NO NameRewriter involved
    val silver = spark.sql("SELECT SUM(price) AS s FROM shop.silver.items")
    assert(silver.head().getDouble(0) == 11.0)

    // bronze: schema-merged JSON scan injected by the rule
    val bronze = spark.sql("SELECT COUNT(*) AS n FROM shop.bronze.items")
    assert(bronze.head().getLong(0) == 2L)

    // quoted literals with dots are untouched (plan-level rewriting —
    // impossible to get wrong, unlike a regex)
    val lit = spark.sql("SELECT 'shop.silver.items' AS s")
    assert(lit.head().getString(0) == "shop.silver.items")
  }
}
