package etlbench

import java.nio.file.Path
import org.apache.commons.io.FileUtils
import org.apache.spark.etlbench.Span
import org.apache.spark.graft.CoreBridge

/** `registry`: analyst queries, one client, closed loop.
  *
  * Each op is one registry key materialized through the noop sink exactly
  * as `graft.Bench` does, after `clearCache` and `System.gc()`, right after
  * an untimed warm-up run of the same key.
  */
object Registry {
  val layerNames = Seq("query.construct", "query.execute")

  def run(ctx: Ctx): Seq[(String, Any)] = {
    import ctx._
    val keys = o("keys").split(",").toSeq
    val queries = graft.SparkEntry.queries
    val missing = keys.filterNot(queries.contains)
    require(missing.isEmpty, s"keys not in the registry: ${missing.mkString(",")}")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    val warmFailed = scala.collection.mutable.LinkedHashSet.empty[String]

    def fresh(): Unit = {
      spark.catalog.clearCache()
      System.gc()
      CoreBridge.drainListenerBus(sc)
    }

    val data = java.nio.file.Paths.get(o("data"))
    def copy(name: String): Path = {
      val dir = work.resolve(name).resolve(data.getFileName.toString)
      FileUtils.copyDirectory(data.toFile, dir.toFile)
      dir
    }
    // every key first runs once untimed on its own copy, writing its result
    // for the oracle check in run.py: that warms the key's generated code,
    // which a long session can evict from the codegen cache between keys.
    // The timed runs follow at once, each on a fresh copy at a new path,
    // so the keys that memoize a store or index build per data directory
    // rebuild it inside the op. A traced run times every key plain and
    // traced, alternating which goes first so a warm-up trend cancels out.
    val warmDir = copy("warm")
    val copies = (if (traced) Seq(false, true) else Seq(false))
      .map(t => t -> copy(if (t) "traced" else "plain")).toMap
    // the warm-up results plus the keys' oracle SQL, laid out as graft.Verify
    // writes them, so run.py checks them with the repo's tools/check.py
    val checkDir = work.resolve("check")
    java.nio.file.Files.createDirectories(checkDir)
    java.nio.file.Files.writeString(checkDir.resolve("oracle_sql.json"),
      org.json4s.jackson.Serialization.write(
        keys.flatMap(k => graft.SparkEntry.oracleSql.get(k).map(k -> _)).toMap)(
        org.json4s.DefaultFormats))
    var warmS = 0.0
    var timedS = 0.0
    val results = keys.zipWithIndex.flatMap { case (k, i) =>
      fresh()
      val w = System.nanoTime()
      try queries(k)(spark, warmDir.toString).write.mode("overwrite")
        .parquet(checkDir.resolve(k).toString)
      catch { case e: Throwable if scala.util.control.NonFatal(e) =>
        warmFailed += k
        failures += s"$k warm-up threw ${e.getClass.getName}: ${e.getMessage}"
      }
      warmS += (System.nanoTime() - w) / 1e9
      val order = if (!traced) Seq(false) else if (i % 2 == 0) Seq(false, true)
        else Seq(true, false)
      order.map { traceThis =>
        fresh()
        val t = System.nanoTime()
        val r = op("op", traceThis) {
          Span.enter("query.construct")
          val df = try queries(k)(spark, copies(traceThis).toString)
            finally Span.exit()
          Span.enter("query.execute")
          try df.write.format("noop").mode("overwrite").save()
          finally Span.exit()
        }
        CoreBridge.drainListenerBus(sc)
        timedS += (System.nanoTime() - t) / 1e9
        System.err.println(f"[registry] $k traced=$traceThis ${r.secs}%.2f s")
        r.out.left.foreach(e => failures +=
          s"$k threw ${e.getClass.getName}: ${e.getMessage}")
        (traceThis, (k, r))
      }
    }
    val passS = timedS / copies.size
    spark.catalog.clearCache()
    val liveMb = liveHeapMb()
    (copies.values.toSeq :+ warmDir).foreach(d => FileUtils.deleteDirectory(d.getParent.toFile))

    val timed = results.filter(_._1 == traced).map(_._2)
    val plain = results.filterNot(_._1).map(_._2)
    val ops = timed.map(_._2)
    val layerRecord =
      if (!traced) Map.empty[String, Double]
      else Layers.metrics(ops, plain.map(_._2.secs), storeAmp = 0.0)
    Seq(
      "workload" -> "registry",
      "attempted" -> timed.size,
      "failed" -> timed.count { case (k, r) =>
        r.out.isLeft || warmFailed.contains(k) },
      "failures" -> failures.toSeq,
      "setup_parts" -> Map("warmup_s" -> warmS),
      "setup_s" -> warmS,
      "op_s" -> ops.map(_.secs),
      "pass_s" -> passS,
      "live_heap_mb" -> liveMb,
      "keys" -> timed.map { case (k, r) =>
        Map("key" -> k, "secs" -> r.secs,
          "construct_jobs" -> r.layers.map(_.c("query.construct").jobs),
          "execute_jobs" -> r.layers.map(_.c("query.execute").jobs),
          "ok" -> r.out.isRight)
      },
      "layers" -> layerRecord)
  }
}
