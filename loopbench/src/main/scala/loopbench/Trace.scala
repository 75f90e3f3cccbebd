package loopbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** Spans around the benchmark's calls into each engine layer, plus a
  * SparkListener that attributes jobs, tasks, shuffle bytes, spill and
  * executor CPU to the innermost enclosing span.
  *
  * Attribution rides on a SparkContext local property: a span sets it
  * on the calling thread, every job submitted from that thread carries
  * it in its properties, and threads started inside the span (the
  * micro-batch thread of a streaming query) inherit a copy. Spans are
  * kept in memory and written once when the benchmark exits.
  *
  * While `on` is false a span is a plain call: the untimed run pays
  * neither the bookkeeping nor the listener. `context` is the running
  * SparkContext, if the workload started one.
  */
final class Trace(context: () => Option[SparkContext], val runId: String) {
  import Trace._

  final case class Span(id: Long, name: String, parent: Long,
                        startNs: Long, endNs: Long)

  @volatile private var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val counters = new Counters

  /** Turn tracing on or off between operations (never inside a span). */
  def set(v: Boolean): Unit = if (v != enabled) {
    context().foreach { sc =>
      if (v) sc.addSparkListener(counters) else {
        org.apache.spark.LoopbenchBus.drain(sc)
        sc.removeSparkListener(counters)
      }
    }
    enabled = v
  }

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val sc = context()
      val prevProp = sc.map(_.getLocalProperty(SpanKey)).orNull
      stack.set(id :: parents)
      sc.foreach(_.setLocalProperty(SpanKey, name))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.foreach(_.setLocalProperty(SpanKey, prevProp))
        stack.set(parents)
        spans.synchronized {
          spans += Span(id, name, parents.headOption.getOrElse(0L), t0, t1)
        }
      }
    }

  /** Seconds spent in spans called `name` that started at or after
    * `sinceNs`: the per-operation busy time of one layer call.
    */
  def seconds(name: String, sinceNs: Long): Double = spans.synchronized {
    spans.iterator.filter(s => s.name == name && s.startNs >= sinceNs)
      .map(s => (s.endNs - s.startNs) / 1e9).sum
  }

  /** Counter totals per span name, after every queued event landed. */
  def counterTotals(): Map[String, Map[String, Double]] = {
    if (enabled) context().foreach(org.apache.spark.LoopbenchBus.drain)
    counters.snapshot()
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
}

object Trace {
  val SpanKey = "loopbench.span"
  val CounterNames: Seq[String] = Seq("jobs", "tasks",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
    "executor_cpu_s")

  /** Per-span-name totals of the listener's counters. */
  final class Counters extends SparkListener {
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[
      Int, String]()
    private val totals = mutable.Map[String, Array[Double]]()

    private def add(span: String, idx: Int, v: Double): Unit =
      totals.synchronized {
        totals.getOrElseUpdate(span,
          new Array[Double](CounterNames.size))(idx) += v
      }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).getOrElse("unattributed")
      add(span, 0, 1)
      e.stageIds.foreach(stageSpan.put(_, span))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = Option(stageSpan.get(e.stageId)).getOrElse("unattributed")
      add(span, 1, 1)
      val m = e.taskMetrics
      if (m != null) {
        add(span, 2, m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(span, 3, m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(span, 4, (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(span, 5, m.executorCpuTime / 1e9)
      }
    }

    def snapshot(): Map[String, Map[String, Double]] = totals.synchronized {
      totals.map { case (k, v) => k -> CounterNames.zip(v).toMap }.toMap
    }
  }
}
