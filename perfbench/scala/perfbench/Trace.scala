package perfbench

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span: a call into a layer plus the action that materializes its
  * output. `extra` holds counts the benchmark records itself (rows out,
  * pairs verified, model calls, ...).
  */
final class SpanRec(val id: Int, val name: String, val parent: Int,
    val runId: String, val startNs: Long) {
  var endNs: Long = -1L
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spark counters attributed to one span by [[SpanListener]]. */
final class SparkCounters {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L          // executor run time, summed over tasks
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var bytesWritten = 0L   // output (file) bytes
}

object Tracer {
  /** Local property that carries the active span id into every job the
    * driver thread submits while the span is open.
    */
  val SpanProperty = "perfbench.span"
  private[perfbench] val FlushSpan = -2

  /** Self time of every span: its duration minus the union of its
    * children's intervals.
    */
  def selfTimes(spans: Seq[SpanRec]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { covered += curE - curS; curS = a; curE = b }
        else if (b > curE) curE = b
      }
      covered += curE - curS
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }
}

/** In-memory span recorder. The listener is registered only in a traced
  * run, and spans are recorded only while `active`; otherwise `span`
  * just runs its body, so untraced and traced units make the same calls.
  */
final class Tracer(traceRun: Boolean, sc: SparkContext, val runId: String) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[SpanRec] = Nil
  var active = false
  val listener: Option[SpanListener] =
    if (traceRun) Some(new SpanListener) else None
  listener.foreach(sc.addSparkListener)

  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val rec = new SpanRec(spans.length, name,
        stack.headOption.fold(-1)(_.id), runId, System.nanoTime())
      spans += rec
      stack = rec :: stack
      sc.setLocalProperty(SpanProperty, rec.id.toString)
      try body
      finally {
        rec.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Add to a counter of the innermost open span. */
  def add(counter: String, v: Double): Unit =
    if (active && stack.nonEmpty) {
      val e = stack.head.extra
      e(counter) = e.getOrElse(counter, 0.0) + v
    }

  def recorded: Seq[SpanRec] = spans.toSeq

  /** Wait until the listener has seen every event posted so far: a
    * marker job goes through the same FIFO listener queue, so once its
    * end arrives, every earlier task and job event has been counted.
    */
  def flush(): Unit = listener.foreach { l =>
    val latch = l.expectFlush()
    val saved = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, FlushSpan.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SpanProperty, saved)
    require(latch.await(60, TimeUnit.SECONDS), "listener queue did not drain")
  }

  def close(): Unit = listener.foreach(sc.removeSparkListener)
}

/** Attributes jobs, tasks and task metrics to the span whose id the
  * job's local properties carry. Listener callbacks run on one bus
  * thread; readers call [[Tracer.flush]] first.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val bySpan = mutable.HashMap.empty[Int, SparkCounters]
  @volatile private var flushLatch: CountDownLatch = new CountDownLatch(0)

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(pp => Option(pp.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)

  def counters(span: Int): SparkCounters = synchronized {
    bySpan.getOrElseUpdate(span, new SparkCounters)
  }

  private[perfbench] def expectFlush(): CountDownLatch = {
    flushLatch = new CountDownLatch(1)
    flushLatch
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val s = spanOf(e.properties)
    jobSpan(e.jobId) = s
    if (s >= 0) {
      counters(s).jobs += 1
      e.stageIds.foreach(st => stageSpan(st) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = spanOf(e.properties)
    if (s >= 0) stageSpan(e.stageInfo.stageId) = s
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      val c = counters(s)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = synchronized(jobSpan.remove(e.jobId))
    if (s.contains(Tracer.FlushSpan)) flushLatch.countDown()
  }
}
