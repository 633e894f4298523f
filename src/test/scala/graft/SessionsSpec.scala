package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions
import graft.plans.{EmptyGroupingSetsRule, LakeParser}

/** `core.Sessions` is the one place an engine session is configured. */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  test("a second call returns the same session, set up once") {
    val again = Sessions.get(4)
    assert(again eq spark)
    assert(spark.sessionState.sqlParser.isInstanceOf[LakeParser])
    assert(spark.experimental.extraOptimizations
      .count(_ eq EmptyGroupingSetsRule) == 1)
    assert(spark.catalog.functionExists("epoch_ms"))
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
  }

  test("tools.Profile writes a formatted plan per query") {
    val planDir = Files.createTempDirectory("graft-profile-")
    graft.tools.Profile.run(spark, Seq("q03_join_revenue_by_nation"),
      "/root/testdata/sf0.001", Some(planDir.toString))
    val plan = Files.readString(planDir.resolve("q03_join_revenue_by_nation.txt"))
    assert(plan.contains("== Physical Plan =="), plan)
  }

  test("no main source but Sessions.scala builds a SparkSession") {
    val builders = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Sessions.scala")
      .filter { p =>
        val code = Files.readString(p)
          .replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
        code.contains("SparkSession.builder(")
      }.toSeq
    assert(builders.isEmpty,
      s"build sessions through graft.core.Sessions: ${builders.mkString(", ")}")
  }
}
