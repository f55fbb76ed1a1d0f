package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.graft.CoreBridge

/** Concurrent fan-out of a tick's independent write chains — the Spark
  * analog of the reference's `client.map` over independent work
  * (`preprocess.py:260`). Each chain (one table's append, one view's
  * fold, one table's `compactDates`, one result overwrite) is a handful
  * of small jobs separated by driver-only file-system work; run one after
  * another, the cluster idles through every gap. Run side by side, one
  * chain's jobs fill another's gaps. The hourly tick runs two fan-outs:
  * the appends beside the view folds, then the compactions of the dates
  * the tick closes beside the result overwrites
  * ([[GhaPipeline.incrementalRunWithViews]]).
  *
  * Contract:
  *  - a fresh thread per task for every call (no shared pool, no knob);
  *  - every task runs under the caller's SparkContext local properties
  *    (job group, scheduler pool, tracing tags), plus the job description
  *    `tick:<phase>:<name>`, so the event log names each job's task (a
  *    task takes the phase of the fan-out it runs in: the views tick's
  *    result overwrites read `tick:compact:results/<name>`);
  *  - results come back in task order;
  *  - the call returns only after EVERY task has finished, then rethrows
  *    the first failure in task order (later ones attached as
  *    suppressed): a failed task never leaves a sibling still writing
  *    when the caller's recovery runs.
  */
private[ingest] object Fanout {

  def apply[T](spark: SparkSession, phase: String,
      tasks: Seq[(String, () => T)]): Seq[T] = {
    val sc = spark.sparkContext
    val outcomes = new Array[Either[Throwable, T]](tasks.size)
    val threads = tasks.zipWithIndex.map { case ((name, work), i) =>
      val props = CoreBridge.localProperties(sc) // the caller's, per task
      val th = new Thread(() => {
        outcomes(i) =
          try {
            CoreBridge.setLocalProperties(sc, props)
            sc.setJobDescription(s"tick:$phase:$name")
            Right(work())
          } catch { case e: Throwable => Left(e) }
      }, s"tick-$phase-$name")
      th.setDaemon(true)
      th.start()
      th
    }
    threads.foreach(_.join())
    outcomes.collect { case Left(e) => e }.toList match {
      case first :: rest =>
        rest.foreach(first.addSuppressed)
        throw first
      case Nil => outcomes.toSeq.collect { case Right(v) => v }
    }
  }
}
