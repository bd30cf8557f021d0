package graft.tools

/** Write the FULL registered oracle-SQL map as oracle_sql.json
  * WITHOUT running any query — lets a resumed / chunked Verify run
  * (whose own dump filters the map to its SPARK_GRAFT_ONLY subset)
  * still be checked as one artifact: point check.py at an outDir
  * whose per-query parquet accumulated across several Verify
  * invocations, with this file covering all of them.
  *
  * Usage: runMain graft.tools.DumpOracle <outDir>
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    new java.io.File(outDir).mkdirs()
    graft.Verify.writeOracleSql(outDir, graft.SparkEntry.oracleSql)
    println(s"[dump-oracle] ${graft.SparkEntry.oracleSql.size} entries -> $outDir/oracle_sql.json")
  }
}
