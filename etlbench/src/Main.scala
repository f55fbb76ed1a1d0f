package etlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.etlbench.{Recorder, Span}
import org.apache.spark.graft.CoreBridge

/** JVM side of the benchmark. `run.py` builds the classes, prepares the
  * registry data and calls
  * `etlbench.Main <workload> <key=value>...`; this writes one JSON object
  * with the samples, checks and layer records to `out=<file>`.
  */
object Main {

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, sys.error(s"missing option $k"))
    def int(k: String, d: Int): Int = kv.get(k).map(_.toInt).getOrElse(d)
    def flag(k: String): Boolean = kv.get(k).contains("1")
  }

  def main(args: Array[String]): Unit = {
    val workload = args.head
    val o = Opts(args.tail.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val work = Paths.get(o("work")).toAbsolutePath
    val cores = o.int("cores", 4)
    // Serve.main's session settings, with every scratch dir kept in `work`
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = new Ctx(spark, o, work, o.flag("trace"))
    val result = try workload match {
      case "hourly_tick" => Hourly.run(ctx)
      case "registry" => Registry.run(ctx)
      case w => sys.error(s"unknown workload $w")
    } finally spark.stop()
    val json = org.json4s.jackson.Serialization.write((result ++ Seq(
      "session_s" -> sessionS,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)).toMap)(
      org.json4s.DefaultFormats)
    Files.write(Paths.get(o("out")), json.getBytes("UTF-8"))
  }
}

/** Shared run state: the session, options, the optional trace recorder and
  * the per-op samples every workload reports.
  */
final class Ctx(val spark: SparkSession, val o: Main.Opts, val work: Path,
    val traced: Boolean) {
  val sc = spark.sparkContext
  val rec: Option[Recorder] = if (traced) Some(new Recorder) else None
  private var attached = false

  def attach(on: Boolean): Unit = rec.foreach { r =>
    if (on && !attached) {
      sc.addSparkListener(r); spark.listenerManager.register(r)
    } else if (!on && attached) {
      sc.removeSparkListener(r); spark.listenerManager.unregister(r)
    }
    attached = on
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap still in use once the run's ops are done and collected: what the
    * ops leave behind (cached blocks, memo maps, listener state). Repeated
    * collections let Spark's ContextCleaner drop what the previous one
    * released.
    */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(200) }
    val rt = Runtime.getRuntime
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** Run `body` as one op. On a traced op the root span is open around it
    * and the listener deltas are read after the bus drains.
    */
  def op[T](name: String, traceThis: Boolean)(body: => T): Op[T] = {
    CoreBridge.drainListenerBus(sc)
    rec.foreach(_.reset())
    attach(traceThis)
    val gc0 = gcMs
    val wall0 = System.currentTimeMillis()
    if (traceThis) Span.begin(sc, name)
    val t0 = System.nanoTime()
    val out = try Right(body) catch {
      case e: Throwable if scala.util.control.NonFatal(e) => Left(e)
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val spans = if (traceThis) Span.finish() else Nil
    val wall1 = System.currentTimeMillis()
    CoreBridge.drainListenerBus(sc)
    val layers = if (traceThis) Some(Layers.of(spans, rec.get, wall0, wall1))
      else None
    attach(false)
    Op(out, secs, gcMs - gc0, layers)
  }
}

final case class Op[T](out: Either[Throwable, T], secs: Double, gcMs: Long,
    layers: Option[Layers])

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
