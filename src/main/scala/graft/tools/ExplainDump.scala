package graft.tools


/** Dump `.explain("formatted")` for registered queries to files —
  * the plan evidence committed under plans/<round>/ so optimization
  * claims ("2 Exchange → 1", "SortMergeJoin → BroadcastHashJoin",
  * "PushedFilters includes ...") can be checked without running
  * Spark.
  *
  * Usage: runMain graft.tools.ExplainDump <sfDir> <outDir> [q_a,q_b]
  *
  * Notes:
  *  - plans are captured via queryExecution.explainString on the
  *    DataFrame the registered builder returns; queries whose builder
  *    EXECUTES work before returning (store builds, artifact sinks,
  *    streaming feeds) pay that work here too — same contract as the
  *    bench;
  *  - with AQE on the dump shows the initial plan
  *    (isFinalPlan=false); Exchange counts/join strategies read from
  *    it are the static planner's, which is what the before/after
  *    diffs compare.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus.toInt)

    graft.core.Harness.select(only).foreach { case (name, build) =>
      graft.core.Harness.run(spark, sfDir, build) { df =>
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } match {
        case Right(_) => System.err.println(s"[explain] $name ok")
        case Left(e)  => System.err.println(s"[explain] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
