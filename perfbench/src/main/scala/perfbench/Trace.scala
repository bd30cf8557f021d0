package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. `parent` is -1 for an op's root span; every span
  * of one op shares `opId`. Times are System.nanoTime. */
final case class Span(id: Int, parent: Int, opId: Int, name: String,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task counters summed over every task of the jobs in one span
  * (or one whole op, for untraced ops). */
final class Counters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleRead, shuffleWrite, spill, outputBytes = 0L
}

/** Streaming progress summed over the micro-batches of one span. */
final class StreamCounters {
  var batches, batchMs, planMs, commitMs, inputRows = 0L
}

/** Spans kept in memory, with Spark and streaming listeners that key
  * every job by the job group of the span that submitted it. A span
  * sets its own job group for its duration, so the jobs it runs — and
  * the tasks of their stages — are charged to it and not to its parent.
  * Tracing is only installed for the traced run; the untraced run
  * measures the program with no listener of the benchmark attached. */
final class Tracer(sc: SparkContext) extends SparkListener {
  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private val byGroup = mutable.Map[String, Counters]()
  private val streamByGroup = mutable.Map[String, StreamCounters]()
  private val stageGroup = mutable.Map[Int, String]()
  @volatile private var currentGroup: String = ""
  var opId = 0

  // the local property SparkContext.setJobGroup sets
  private val JobGroupKey = "spark.jobGroup.id"

  def groupOf(spanId: Int): String = s"perfbench-span-$spanId"

  /** Run `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), opId,
      name, System.nanoTime())
    spans += s
    stack = s :: stack
    setGroup(groupOf(s.id), name)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => setGroup(groupOf(p.id), p.name)
        case None    => sc.clearJobGroup(); currentGroup = ""
      }
    }
  }

  private def setGroup(g: String, desc: String): Unit = {
    sc.setJobGroup(g, desc, interruptOnCancel = false)
    currentGroup = g
  }

  /** Deliver every event posted so far before counters are read. */
  def drain(): Unit = org.apache.spark.perfbench.ListenerDrain(sc)

  def counters(spanId: Int): Counters = synchronized {
    byGroup.getOrElse(groupOf(spanId), new Counters)
  }

  def stream(spanId: Int): StreamCounters = synchronized {
    streamByGroup.getOrElse(groupOf(spanId), new StreamCounters)
  }

  /** Self time: the span's duration minus what its direct children cover
    * (children run one after another on the driver thread). */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  private def counterFor(group: String): Counters =
    byGroup.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobGroupKey)))
      .getOrElse("")
    val c = counterFor(g)
    c.jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty(JobGroupKey)))
      .orElse(stageGroup.get(e.stageInfo.stageId))
      .getOrElse("")
    stageGroup(e.stageInfo.stageId) = g
    val c = counterFor(g)
    c.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counterFor(stageGroup.getOrElse(e.stageId, ""))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleRead += m.shuffleReadMetrics.localBytesRead +
        m.shuffleReadMetrics.remoteBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Micro-batch progress of streams started inside a span. The stream
    * thread is created by the span, so its progress is charged to the
    * group that was current when the batch reported. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = if (d.containsKey(k)) d.get(k).longValue else 0L
        val c = streamByGroup.getOrElseUpdate(currentGroup, new StreamCounters)
        c.batches += 1
        c.batchMs += ms("triggerExecution")
        c.planMs += ms("queryPlanning")
        c.commitMs += ms("walCommit") + ms("commitOffsets")
        c.inputRows += p.numInputRows
      }
  }
}
