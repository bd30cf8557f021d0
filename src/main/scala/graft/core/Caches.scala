package graft.core

import org.apache.spark.sql.DataFrame

import java.util.concurrent.ConcurrentLinkedQueue

/** Registry for DataFrames cached inside operators (self-joined
  * banded/blocked frames, shingle sets) and for streaming run
  * directories ([[Scratch.runDir]]). A long-lived session running
  * the whole 100-query bench/verify suite would otherwise accumulate
  * one cached relation per invocation in executor storage; drivers call
  * [[releaseAll]] between queries to return the memory and the disk.
  *
  * Contract: the registry is GLOBAL and [[releaseAll]] assumes queries
  * execute one at a time (which Bench, Verify, and the driver gate all
  * do). A driver overlapping two queries in one JVM must not call
  * releaseAll mid-flight — it would unpersist the other query's
  * self-join cache and delete the run directories its frames read. */
object Caches {
  private val live = new ConcurrentLinkedQueue[() => Unit]()

  /** Cache `df` and remember it for later release. */
  def track(df: DataFrame): DataFrame = { live.add(() => df.unpersist(false)); df.cache() }

  private[core] def onRelease(release: () => Unit): Unit = live.add(release)

  /** Run every release (unpersist, non-blocking; delete) and forget it. */
  def releaseAll(): Unit = {
    var release = live.poll()
    while (release != null) { release(); release = live.poll() }
  }
}
