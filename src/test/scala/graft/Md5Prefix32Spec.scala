package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Md5Prefix32

/** The fused native hash expression must be bit-identical to the composed
  * built-in form (and therefore to the DuckDB oracle formula), in both
  * codegen and interpreted paths, and usable from SQL. */
class Md5Prefix32Spec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("matches conv(substring(md5)) for all document shingle content") {
    val docs = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val toks = docs.select(explode(split(trim(col("text")), "\\s+")).as("t"))
    val cmp = toks.select(
      Md5Prefix32(col("t")).as("fused"),
      conv(substring(md5(col("t")), 1, 8), 16, 10).cast(LongType).as("composed"))
    assert(cmp.filter(col("fused") =!= col("composed")).count() == 0)
    assert(cmp.filter(col("fused") < 0 || col("fused") > 4294967295L).count() == 0)
  }

  test("null-safe and SQL-registered") {
    Md5Prefix32.register(spark)
    import spark.implicits._
    val df = Seq(Some("abc"), None).toDF("s")
      .selectExpr("md5_prefix32(s) AS h")
    val rows = df.collect()
    // md5('abc') = 900150983cd24fb0... -> 0x90015098
    assert(rows(0).getLong(0) == 0x90015098L)
    assert(rows(1).isNullAt(0))
  }
}
