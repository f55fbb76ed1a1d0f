package graft.ingest

import org.apache.spark.sql.SparkSession
import org.apache.spark.graft.CoreBridge

/** Concurrent per-table fan-out for the hourly tick — the Spark analog of
  * the reference's `client.map` over independent work
  * (`preprocess.py:260`). A tick's six per-table chains
  * (append, compactDates) share nothing but the persisted parse, and each
  * is a handful of small jobs separated by driver-only file-system work;
  * run one after another, the cluster idles through every gap. Run
  * side by side, one table's jobs fill another's gaps.
  *
  * Contract:
  *  - a fresh thread per table for every call (no shared pool, no knob);
  *  - every task runs under the caller's SparkContext local properties
  *    (job group, scheduler pool, tracing tags), plus the job description
  *    `tick:<phase>:<table>`, so the event log names each job's table;
  *  - the call returns only after EVERY task has finished, then rethrows
  *    the first failure in `tables` order (later ones attached as
  *    suppressed): a failed table never leaves a sibling still writing
  *    when the caller's recovery runs.
  */
private[ingest] object Fanout {

  def apply[T](spark: SparkSession, phase: String, tables: Seq[String])(
      work: String => T): Seq[T] = {
    val sc = spark.sparkContext
    val outcomes = new Array[Either[Throwable, T]](tables.size)
    val threads = tables.zipWithIndex.map { case (t, i) =>
      val props = CoreBridge.localProperties(sc) // the caller's, per task
      val th = new Thread(() => {
        outcomes(i) =
          try {
            CoreBridge.setLocalProperties(sc, props)
            sc.setJobDescription(s"tick:$phase:$t")
            Right(work(t))
          } catch { case e: Throwable => Left(e) }
      }, s"tick-$phase-$t")
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
