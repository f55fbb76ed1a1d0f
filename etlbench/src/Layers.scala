package etlbench

import org.apache.spark.etlbench.{Counters, Recorder, Span}

/** One traced op split by layer.
  *
  * Every span's self time (its wall time minus its child spans) goes to the
  * layer of the span itself or, for the generic `store.*` spans, to the
  * layer of the caller; the results `store.overwrite` calls made directly
  * by the tick count as `views.query`. Self times therefore add up to the
  * op's wall time exactly, and the root's own self time is the part no
  * layer span covers.
  */
final case class Layers(wallNs: Long, busyMs: Long, planMs: Long,
    selfNs: Map[String, Long], counters: Map[String, Counters],
    filesBefore: Long, filesAfter: Long) {
  def jobs: Int = counters.valuesIterator.map(_.jobs).sum
  def taskNs: Long = counters.valuesIterator.map(_.taskNs).sum
  def c(layer: String): Counters = counters.getOrElse(layer, new Counters)
}

object Layers {
  val root = "op"

  private def layerOf(n: Span.Node): String =
    if (n == null) root
    else n.name match {
      case "store.overwrite" if n.parent != null &&
          n.parent.name == "pipeline" => "views.query"
      case s if s.startsWith("store.") => layerOf(n.parent)
      case s => s
    }

  def of(spans: Seq[Span.Node], rec: Recorder, wall0: Long,
      wall1: Long): Layers = rec.synchronized {
    val byId = spans.map(n => n.id -> n).toMap
    val root = spans.find(_.parent == null).get
    val self = spans.groupMapReduce(layerOf)(_.selfNs)(_ + _)
    val counters = scala.collection.mutable.HashMap.empty[String, Counters]
    for ((id, c) <- rec.bySpan) {
      val layer = byId.get(id).map(layerOf).getOrElse(Layers.root)
      val acc = counters.getOrElseUpdate(layer, new Counters)
      acc.jobs += c.jobs; acc.taskNs += c.taskNs
      acc.shuffleBytes += c.shuffleBytes; acc.spillBytes += c.spillBytes
      acc.writtenBytes += c.writtenBytes
    }
    val files = spans.flatMap(_.result match {
      case (a: Long, b: Long) => Some((a, b))
      case _ => None
    })
    Layers(root.end - root.start, rec.busyMs(wall0, wall1), rec.planMs,
      self, counters.toMap, files.map(_._1).sum, files.map(_._2).sum)
  }

  /** Per-layer metrics over a run's traced ops: shares are ratios of sums
    * (percent of op wall or task time), counts and volumes are per-op means.
    * Every workload reports every layer; one it does not exercise reads 0.
    */
  def metrics(ops: Seq[Op[_]], untracedSecs: Seq[Double],
      storeAmp: Double): Map[String, Double] = {
    val ls = ops.flatMap(_.layers)
    val n = ls.size.toDouble
    val wall = ls.map(_.wallNs).sum.toDouble
    val task = math.max(1L, ls.map(_.taskNs).sum).toDouble
    def mean(f: Layers => Double) = ls.map(f).sum / n
    val all = ls.flatMap(_.counters.values)
    val base = Map(
      "op.wall_s" -> Stats.median(ops.map(_.secs)),
      "op.jobs" -> mean(_.jobs.toDouble),
      "op.driver_s" -> mean(l => l.wallNs / 1e9 - l.busyMs / 1e3),
      "op.plan_s" -> mean(_.planMs / 1e3),
      "op.task_s" -> mean(_.taskNs / 1e9),
      "exec.gc_pct" -> 100.0 * ops.map(_.gcMs.toDouble).sum * 1e6 / wall,
      "exec.shuffle_mb" -> all.map(_.shuffleBytes).sum / 1e6 / n,
      "exec.spill_mb" -> all.map(_.spillBytes).sum / 1e6 / n,
      "exec.written_mb" -> all.map(_.writtenBytes).sum / 1e6 / n,
      "trace.overhead_s" ->
        (Stats.median(ops.map(_.secs)) - Stats.median(untracedSecs)),
      "trace.unattributed_pct" ->
        100.0 * ls.map(_.selfNs.getOrElse(root, 0L)).sum / wall)
    val perLayer = (Hourly.layerNames ++ Registry.layerNames).flatMap { l =>
      Seq(s"$l.pct" -> 100.0 * ls.map(_.selfNs.getOrElse(l, 0L)).sum / wall,
        s"$l.jobs" -> mean(_.c(l).jobs.toDouble),
        s"$l.task_pct" -> 100.0 * ls.map(_.c(l).taskNs).sum / task)
    }
    base ++ perLayer ++ Map(
      "ingest.written_mb" -> mean(_.c("ingest").writtenBytes / 1e6),
      "compact.rewritten_mb" -> mean(_.c("compact").writtenBytes / 1e6),
      "compact.files_before" -> mean(_.filesBefore.toDouble),
      "compact.files_after" -> mean(_.filesAfter.toDouble),
      "store.amp" -> storeAmp)
  }
}
