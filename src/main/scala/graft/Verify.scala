package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
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
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      // start/finish markers with wall-clock: a query that stalls at a
      // big SF is identifiable from the dump log alone (last start
      // without a done), and the per-query seconds map the ladder cost
      System.err.println(s"[verify] start $name")
      val t0 = System.nanoTime()
      // an earlier dump's result must not survive a failed run: the
      // checker would judge it as this run's output
      graft.core.Scratch.deleteTree(Paths.get(outDir, name))
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] done $name ${(System.nanoTime() - t0) / 1e9}%.1f s")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally graft.core.Caches.releaseAll() // operator caches per query
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
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
