package org.apache.spark.graft

import java.util.Properties
import org.apache.spark.SparkContext

/** Core-scope bridge: the `private[spark]` SparkContext members the engine
  * needs, in one file under Spark's package — the core-side sibling of
  * `org.apache.spark.sql.graft.ColumnBridge`, and like it the only
  * core-private access in the repo.
  *
  *  - `drainListenerBus` (bench instrumentation): the task-metrics listener
  *    bus is asynchronous, so per-query byte counters read right after an
  *    action may miss the tail of the query's own events.
  *  - `localProperties` / `setLocalProperties` (the ingest fan-out): a job
  *    started on a worker thread must carry the job group, description and
  *    scheduler pool of the thread that handed it the work — the same
  *    capture-and-restore Spark's own `SQLExecution.withThreadLocalCaptured`
  *    does for its broadcast and subquery threads.
  */
object CoreBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** A copy of the calling thread's local properties. */
  def localProperties(sc: SparkContext): Properties =
    org.apache.spark.util.Utils.cloneProperties(sc.getLocalProperties)

  /** Replace the calling thread's local properties with `props`. */
  def setLocalProperties(sc: SparkContext, props: Properties): Unit =
    sc.setLocalProperties(props)
}
