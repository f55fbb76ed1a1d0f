package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.graft.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry key's measured run: DataFrame construction and execution
  * wall time, the shuffle and input bytes its tasks read, and the wall time
  * of every Spark job it fired (construction-time jobs included), in job
  * order.
  */
final case class KeyRun(constructS: Double, executeS: Double,
    shuffleBytes: Long, inputBytes: Long, jobS: Seq[Double]) {
  def secs: Double = constructS + executeS
}

/** The per-key runner `Bench` and `Probe` share. Each [[run]] starts from
  * a clean session ([[fresh]]), builds the key's DataFrame, materializes
  * every output column through the noop sink (`.count()` would let
  * Catalyst prune the plan to a row count and under-measure) and reads its
  * counters after draining the asynchronous listener bus, so each run's
  * bytes and jobs are exactly its own. The byte counters are task-level:
  * shuffle volume is the number that predicts behavior at scale, where
  * wall-clock on a shared box mostly measures ambient load.
  */
final class KeyRunner(spark: SparkSession, sfDir: String) {
  private val shuffleBytes = new AtomicLong
  private val inputBytes = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val jobWall = new ConcurrentHashMap[Int, Long]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
      }
    }
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach(t0 =>
        jobWall.put(e.jobId, e.time - t0))
  })

  /** Untimed warm-up: JIT, class loading and the parquet footer and codec
    * caches of every testdata table, so the first key touching a table
    * does not absorb that cost.
    */
  def warmUp(): Unit =
    for (t <- KeyRunner.tables)
      try graft.query.Tables(spark, sfDir, t).count()
      catch { case _: Throwable => () }

  /** Start a key from a clean session. Keys that persist() intermediates
    * would otherwise hand their cache to the next run. localCheckpoint
    * blocks are NOT released by clearCache: they live until their RDD is
    * garbage-collected and the ContextCleaner drops the blocks. Across 100+
    * keys the leaked blocks fill the unified memory pool and the later
    * (shuffle-heavy) keys run against starved execution memory: measured
    * 2.4 s -> 25 s for q_dedup_resolve at position ~90 of a bench run. An
    * explicit GC between keys keeps each measurement independent of its
    * predecessors.
    */
  private def fresh(): Unit = {
    spark.catalog.clearCache()
    System.gc()
    CoreBridge.drainListenerBus(spark.sparkContext)
  }

  /** The key's DataFrame, built on [[fresh]] state (construction may fire
    * eager jobs).
    */
  def construct(name: String): DataFrame = {
    fresh()
    SparkEntry.queries(name)(spark, sfDir)
  }

  /** Construct and execute `name` once; throws what the key throws. */
  def run(name: String): KeyRun = {
    val fn = SparkEntry.queries(name)
    fresh()
    jobWall.clear()
    val sh0 = shuffleBytes.get(); val in0 = inputBytes.get()
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val t1 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t2 = System.nanoTime()
    CoreBridge.drainListenerBus(spark.sparkContext)
    val jobs = jobWall.asScala.toSeq.sortBy(_._1).map(_._2 / 1e3)
    KeyRun((t1 - t0) / 1e9, (t2 - t1) / 1e9,
      shuffleBytes.get() - sh0, inputBytes.get() - in0, jobs)
  }
}

object KeyRunner {

  /** Every testdata table (TESTDATA.md). */
  private val tables: Seq[String] = Seq("lineitem", "orders", "customer", "supplier",
    "part", "nation", "region", "events", "documents", "embeddings")

  /** The registry keys named in `csv` (comma-separated), in registry order;
    * every key when `csv` is absent or blank. A name not in the registry
    * throws `IllegalArgumentException` naming it: silently dropping a typo
    * records a truncated (or empty) run as a valid one.
    */
  def select(csv: Option[String]): Seq[String] = {
    val known = SparkEntry.registry.map(_.name)
    csv.filter(_.trim.nonEmpty) match {
      case None => known
      case Some(s) =>
        val want = s.split(",").map(_.trim).filter(_.nonEmpty).toSet
        val unknown = want -- known
        require(unknown.isEmpty,
          s"names not in the registry: ${unknown.toSeq.sorted.mkString(", ")}")
        known.filter(want)
    }
  }
}
