package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class VerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a query that fails in dump leaves no earlier result behind") {
    val out = Files.createTempDirectory("graft_verify_spec")
    val name = "q_dedup_incremental_store"
    val stale = out.resolve(name)
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000.parquet"), "stale")
    // no fixture there: the query throws while its DataFrame is built
    Verify.dump(spark, out.resolve("no_such_sf").toString, out.toString,
      Some(Set(name)))
    assert(!Files.exists(stale), s"$stale survived a failed dump")
    assert(Files.exists(out.resolve("oracle_sql.json")))
    graft.core.Scratch.deleteTree(out)
  }
}
