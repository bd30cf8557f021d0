package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Scratch probe: run registered queries under a job-counting listener
  * and print `name, wall seconds, driver job count`. The CC/TextRank/GD
  * loop optimizations are about the DRIVER-SEQUENTIAL JOB FLOOR per
  * iteration (broadcast builds, checkpoint materializations, change
  * counts), which wall-clock on a noisy host can't evidence — the job
  * count can.
  *
  * Usage: runMain graft.tools.JobCountProbe <sfDir> q_a,q_b [iters]
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",")
    val iters = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus.toInt)

    val counter = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(jobStart: SparkListenerJobStart): Unit =
        counter.incrementAndGet()
    })

    names.foreach { n =>
      val runs = (1 to iters).map { _ =>
        // drain pending listener events so counts don't bleed across
        Thread.sleep(300) // listener bus is async; let job events drain
        val before = counter.get()
        val t0 = System.nanoTime()
        try graft.SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        catch { case e: Throwable =>
          System.err.println(s"[jobs] $n failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        graft.core.Caches.releaseAll()
        spark.catalog.clearCache()
        Thread.sleep(300) // listener bus is async; let job events drain
        (dt, counter.get() - before)
      }
      val best = runs.minBy(_._1)
      println(f"[jobs] $n%-28s wall=${best._1}%8.3f s  jobs=${best._2}%4d" +
        s"  (all: ${runs.map(r => f"${r._1}%.2f/${r._2}").mkString(", ")})")
    }
    spark.stop()
  }
}
