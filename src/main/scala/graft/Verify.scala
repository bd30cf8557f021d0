package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

import graft.core.Harness

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each selected query's result to `outDir/<name>` parquet and
    * the matching oracle SQL subset to `outDir/oracle_sql.json`.
    * Shared by [[main]] (the driver gate) and the OracleParitySpec
    * local CI gate. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
           only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    Harness.select(only).foreach { case (name, build) =>
      // start/finish markers with wall-clock: a query that stalls at a
      // big SF is identifiable from the dump log alone (last start
      // without a done), and the per-query seconds map the ladder cost
      System.err.println(s"[verify] start $name")
      // an earlier dump's result must not survive a failed run: the
      // checker would judge it as this run's output. Deleted before the
      // run, not in the act, since a throwing builder never reaches it
      graft.core.Scratch.deleteTree(Paths.get(outDir, name))
      Harness.run(spark, sfDir, build)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")) match {
        case Right(r) => System.err.println(f"[verify] done $name ${r.wallS}%.1f s")
        case Left(e)  => System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    writeOracleSql(outDir,
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) })
  }

  /** Write `sql` (query name → DuckDB SQL) as `outDir/oracle_sql.json`,
    * the map `tools/check.py` and the driver `json.load`. */
  def writeOracleSql(outDir: String, sql: Map[String, String]): Unit = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    sql.toSeq.sortBy(_._1).foreach { case (k, v) => node.put(k, v) }
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), node.toString)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Tables.localSession(cpus.toInt)
    // SPARK_GRAFT_ONLY=q_a,q_b restricts the dump (local iteration);
    // the driver sets nothing and gets the full suite
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }
}
