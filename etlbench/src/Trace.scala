package org.apache.spark.etlbench

import java.util.Properties
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around calls into the engine's layers.
  *
  * The traced build rewrites a fixed set of engine methods so they call
  * [[Span.enter]] on entry and [[Span.exit]] on every exit (see
  * `Instrument`); the benchmark opens the op's root span itself. Each span
  * tags the Spark jobs started inside it through a SparkContext local
  * property, which Spark copies to the jobs that adaptive execution starts
  * on its own threads, so [[Recorder]] can charge every job, stage and task
  * to the span that caused it.
  */
object Span {
  val Key = "etlbench.span"

  final class Node(val id: Int, val name: String, val parent: Node) {
    val start: Long = System.nanoTime()
    var end = 0L
    var childNs = 0L
    var result: Any = null
    def selfNs: Long = end - start - childNs
  }

  @volatile private var owner: Thread = null
  private var sc: SparkContext = null
  private var top: Node = null
  private var nextId = 0
  private val closed = mutable.ArrayBuffer.empty[Node]

  /** Open the root span of one op on the calling thread. Only calls from
    * that thread are recorded; spans stay off until the next `begin`.
    */
  def begin(context: SparkContext, name: String): Unit = {
    sc = context
    closed.clear()
    owner = Thread.currentThread()
    top = null
    nextId = 0
    enter(name)
  }

  /** Close the root span and return every span of the op, root last. */
  def finish(): Seq[Node] = {
    while (top != null) exit()
    owner = null
    closed.toSeq
  }

  def enter(name: String): Unit =
    if (owner eq Thread.currentThread()) {
      nextId += 1
      top = new Node(nextId, name, top)
      sc.setLocalProperty(Key, top.id.toString)
    }

  def exit(): Unit =
    if ((owner eq Thread.currentThread()) && top != null) {
      val n = top
      n.end = System.nanoTime()
      if (n.parent != null) n.parent.childNs += n.end - n.start
      closed += n
      top = n.parent
      sc.setLocalProperty(Key, if (top == null) null else top.id.toString)
    }

  /** Record a method's return value on the innermost open span. */
  def result(v: Any): Unit =
    if ((owner eq Thread.currentThread()) && top != null) top.result = v
}

/** Per-span Spark counters, filled from the listener bus. */
final class Counters {
  var jobs = 0
  var taskNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var writtenBytes = 0L
}

/** Listener set for one JVM: jobs, stages and tasks keyed by span id, job
  * busy intervals for the driver-only share of an op, and planning time
  * from each query's `QueryPlanningTracker`.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  val bySpan = mutable.HashMap.empty[Int, Counters]
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  var planMs = 0L
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def spanOf(p: Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Span.Key)))
      .map(_.toInt).getOrElse(0)

  private def at(span: Int): Counters =
    bySpan.getOrElseUpdate(span, new Counters)

  def reset(): Unit = synchronized {
    bySpan.clear(); jobIntervals.clear(); planMs = 0L
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    at(spanOf(e.properties)).jobs += 1
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized { stageSpan(e.stageInfo.stageId) = spanOf(e.properties) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = at(stageSpan.getOrElse(e.stageId, 0))
      c.taskNs += m.executorRunTime * 1000000L
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.writtenBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    synchronized {
      planMs += qe.tracker.phases.valuesIterator.map(_.durationMs).sum
    }

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    onSuccess(f, qe, 0L)

  /** Milliseconds in [t0, t1] during which at least one job was running. */
  def busyMs(t0: Long, t1: Long): Long = synchronized {
    val iv = jobIntervals.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curA = -1L; var curB = -1L
    for ((a, b) <- iv) {
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
