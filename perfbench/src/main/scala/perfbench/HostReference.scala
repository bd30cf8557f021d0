package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** A fixed Spark job that tells how fast the host is at the moment it
  * runs. The benchmark runs it right before every timed op and once after
  * the last, and divides each op's time by the mean of the two runs that
  * bracket it. The job is made of the machinery graft's ops spend their
  * time in (planning, codegen, small jobs with shuffles, a join, per-row
  * hashing) but of no graft code: it runs generated rows in a session of
  * its own, with the SQL settings it depends on pinned here, so no change
  * to graft's code or session settings can move its time. */
final class HostReference(spark: SparkSession, cpus: Int) {
  private val session = spark.newSession()
  Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.autoBroadcastJoinThreshold" -> "10485760",
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.ansi.enabled" -> "true")
    .foreach { case (k, v) => session.conf.set(k, v) }
  (1 to 3).foreach(_ => run()) // its own cold start and JIT

  /** Run the job; return its wall time in seconds. */
  def run(): Double = {
    val t0 = System.nanoTime()
    val rows = session.range(0, 200000, 1, cpus)
      .select(col("id"), (col("id") % 1009).as("k"), sha2(col("id").cast("string"), 256).as("s"))
    val keys = session.range(0, 1009).withColumnRenamed("id", "k")
    for (i <- 0 until 4)
      rows.where(col("id") % 4 === i).groupBy("k").agg(max("s"), count(lit(1)))
        .join(keys, "k").collect()
    (System.nanoTime() - t0) / 1e9
  }
}
