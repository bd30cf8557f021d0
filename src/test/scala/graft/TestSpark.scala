package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites. */
object TestSpark {
  lazy val spark: SparkSession = graft.core.Tables.localSession(4,
    "spark.sql.warehouse.dir" -> "/tmp/graft_warehouse")
  val SfDir = "/root/testdata/sf0.001"
}
