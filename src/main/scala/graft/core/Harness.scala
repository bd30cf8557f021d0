package graft.core

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}

/** One run of one registry query: the loop Bench, Verify and
  * ExplainDump share. [[select]] picks the queries; [[run]] calls a
  * query's builder, hands the frame to the caller's act (a noop
  * write, a parquet dump, an explain) and always releases the
  * operator caches ([[Caches.releaseAll]]) and the session's cached
  * relations afterwards, so no query's caches outlive it.
  *
  * Failure policy: an `InterruptedException` re-interrupts the thread
  * and is rethrown; any other throw, from the builder or the act, is
  * a failed run, returned as `Left` with no timing, so a crash can
  * never read as a result.
  *
  * Job count: [[Run.jobs]] is the number of `SparkListenerJobStart`
  * events posted between the run's start and its end (the builder's
  * eager work included), counted by one listener per SparkContext.
  * The listener bus is drained at both ends, so every job of the run
  * has been delivered and none of the previous run's remains. Like
  * [[Caches.releaseAll]], the count assumes queries execute one at a
  * time in the JVM: a job another thread starts during the run is
  * counted in it.
  */
object Harness {
  type Builder = (SparkSession, String) => DataFrame

  /** A completed run: seconds spent in the builder and in the act,
    * and the Spark jobs the run started. */
  final case class Run(buildS: Double, actS: Double, jobs: Int) {
    def wallS: Double = buildS + actS
  }

  /** The registry queries named in `only` (all of them when None),
    * sorted by name. */
  def select(only: Option[Set[String]]): Seq[(String, Builder)] =
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

  def run(spark: SparkSession, sfDir: String, build: Builder)
         (act: DataFrame => Unit): Either[Throwable, Run] = {
    val sc = spark.sparkContext
    val jobs = jobCounter(sc)
    GraftShims.drainListenerBus(sc)
    val jobs0 = jobs.get()
    try {
      val t0 = System.nanoTime()
      val df = build(spark, sfDir)
      val t1 = System.nanoTime()
      act(df)
      val t2 = System.nanoTime()
      GraftShims.drainListenerBus(sc)
      Right(Run((t1 - t0) / 1e9, (t2 - t1) / 1e9, jobs.get() - jobs0))
    } catch {
      case e: InterruptedException => Thread.currentThread().interrupt(); throw e
      case e: Throwable => Left(e)
    } finally {
      Caches.releaseAll()
      spark.catalog.clearCache()
    }
  }

  private var counted: Option[(SparkContext, AtomicInteger)] = None

  private def jobCounter(sc: SparkContext): AtomicInteger = synchronized {
    counted.collect { case (c, n) if c eq sc => n }.getOrElse {
      val n = new AtomicInteger()
      sc.addSparkListener(new SparkListener {
        override def onJobStart(jobStart: SparkListenerJobStart): Unit =
          n.incrementAndGet()
      })
      counted = Some(sc -> n)
      n
    }
  }
}
