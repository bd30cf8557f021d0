package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark.withTempDir

class VerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a query that fails in dump leaves no earlier result behind") {
    withTempDir("graft_verify_spec") { out =>
      val name = "q_dedup_incremental_store"
      val stale = out.resolve(name)
      Files.createDirectories(stale)
      Files.writeString(stale.resolve("part-00000.parquet"), "stale")
      // no fixture there: the query throws while its DataFrame is built
      Verify.dump(spark, out.resolve("no_such_sf").toString, out.toString,
        Some(Set(name)))
      assert(!Files.exists(stale), s"$stale survived a failed dump")
      assert(Files.exists(out.resolve("oracle_sql.json")))
    }
  }

  test("oracle_sql.json round-trips quotes, backslashes and control characters") {
    withTempDir("graft_oracle_json") { out =>
      val sql = Map(
        "q_\"odd\"" -> "SELECT '\"a\\b\"' AS s,\t1 AS n\nFROM t WHERE c = '\u0001'",
        "q_plain" -> "SELECT 1")
      Verify.writeOracleSql(out.toString, sql)
      val back = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(Files.readString(out.resolve("oracle_sql.json")))
      assert(back.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap == sql)
    }
  }
}
