package graft.core

import org.apache.spark.sql.DataFrame

/** Reader for observed metrics attached to an action that has ALREADY
  * completed (CC's above-gate rounds' eager localCheckpoint,
  * `q_curate_funnel`'s count pass; the size gates use [[LocalTier]]).
  * The listener that publishes observed metrics fires asynchronously
  * after the action, so the read polls briefly; if it never fires (a
  * Spark listener regression), the caller's recount runs instead —
  * the pre-observe cost, correct either way. A null metric (aggregate
  * over zero rows) reads as 0.
  */
object Observed {
  def longOr(obs: org.apache.spark.sql.Observation, key: String,
             recount: => DataFrame): Long = {
    // Observation.get blocks until the listener publishes; the
    // non-blocking getters are private[sql], so bound the wait with a
    // daemon-thread join instead
    val ref = new java.util.concurrent.atomic.AtomicReference[Map[String, Any]](null)
    val t = new Thread(() =>
      try ref.set(obs.get) catch { case _: Throwable => () })
    t.setDaemon(true); t.start(); t.join(10000L)
    Option(ref.get).flatMap(_.get(key)) match {
      case Some(null) => 0L
      case Some(v)    => v.asInstanceOf[Number].longValue
      case None       => recount.count()
    }
  }
}
