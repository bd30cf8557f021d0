package graft.tools


/** Scratch probe: split a query's wall time into BUILD (the builder
  * call — for the curate funnel that includes the eager LSH + CC
  * construction) and ACT (the final noop write). Decides whether the
  * final union-of-counts action is worth restructuring or the cost
  * lives in construction.
  *
  * Usage: runMain graft.tools.FunnelProbe <sfDir> q_a,q_b [iters]
  */
object FunnelProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",")
    val iters = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus.toInt)
    names.foreach { n =>
      val runs = (1 to iters).map { _ =>
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        graft.core.Caches.releaseAll()
        spark.catalog.clearCache()
        ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
      }
      val best = runs.minBy(r => r._1 + r._2)
      println(f"[split] $n%-28s build=${best._1}%7.3f s  act=${best._2}%7.3f s" +
        runs.map(r => f"(${r._1}%.2f+${r._2}%.2f)").mkString("  all: ", ", ", ""))
    }
    spark.stop()
  }
}
