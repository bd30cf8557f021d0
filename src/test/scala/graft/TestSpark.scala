package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Tables.localSession(4,
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")
  val SfDir = "/root/testdata/sf0.001"

  /** Run `f` on a fresh temp directory named `prefix…`, deleted after. */
  def withTempDir[A](prefix: String)(f: Path => A): A = {
    val d = Files.createTempDirectory(prefix)
    try f(d) finally graft.core.Scratch.deleteTree(d)
  }
}
