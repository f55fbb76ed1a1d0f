package etlbench

import java.nio.file.Path
import java.time.Instant
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.ingest.Serve

/** `hourly_tick`: the steady-state serve loop, one client, closed loop.
  *
  * Set-up lands `history` hours plus one new hour of GH-Archive NDJSON and
  * builds the template store and views with one catch-up tick over the
  * history. Every op restores the template, then runs
  * `Serve.loop(ticks = 1, mvDir = Some(..))` with an injected clock over the
  * new hour, so each op replays the same hour at the same hour of the day.
  * An op fails when the loop does not report exactly one ingested hour or
  * when a result table differs from the plain-Scala oracle.
  */
object Hourly {
  val day0: Instant = Instant.parse("2024-03-05T00:00:00Z")
  val layerNames = Seq("pipeline", "ingest", "pipeline.touched",
    "views.maintain", "compact", "views.query")

  def run(ctx: Ctx): Seq[(String, Any)] = {
    import ctx._
    val seed = o("seed").toLong
    val history = o.int("history_hours", 3)
    val perHour = o.int("events_per_hour", 3000)
    val nOps = o("ops").toInt
    val landing = work.resolve("landing")
    val newHour = day0.plusSeconds(3600L * history)

    val g0 = System.nanoTime()
    val hours = Gha.land(seed, landing, day0, history + 1, perHour)
    val genS = (System.nanoTime() - g0) / 1e9
    val expectedHist = Gha.expected(hours.take(history))
    val expected = Gha.expected(hours)

    def tick(dir: Path, now: Instant): Long =
      Serve.loop(spark, landing.toString, dir.resolve("store").toString,
        day0, Gha.keyword, ticks = 1, now = () => now, sleeper = _ => (),
        mvDir = Some(dir.resolve("mv").toString))

    // template: one catch-up tick over the history into an empty store; as
    // the JVM's first tick it also pays class loading, codegen and JIT
    // warm-up, so the timed ticks run warm
    val template = work.resolve("template")
    val t = System.nanoTime()
    val n = tick(template, newHour.plusSeconds(60))
    val templateS = (System.nanoTime() - t) / 1e9
    require(n == history, s"template build ingested $n of $history hours")
    val badTemplate = check(ctx, template, expectedHist)
    require(badTemplate.isEmpty, s"template results wrong: ${badTemplate.mkString}")

    val afterNow = newHour.plusSeconds(3660)
    def restore(i: Int): Path = {
      val dir = work.resolve(s"op$i")
      FileUtils.deleteDirectory(dir.toFile)
      FileUtils.copyDirectory(template.toFile, dir.toFile)
      dir
    }
    System.err.println(f"[hourly] template $templateS%.2f s")

    val corrupt = o.flag("corrupt")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var failedOps = 0
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    var amp = 0.0
    var resultRows = 0L
    // a traced run prices the tracing with plain ticks in between, in the
    // order traced, plain, traced so a warm-up trend cancels out
    val nTicks = if (traced) math.max(3, nOps) else nOps
    val p0 = System.nanoTime()
    val ops = (1 to nTicks).flatMap { i =>
      val dir = restore(i)
      val traceThis = traced && i % 2 == 1
      val r = op("op", traceThis)(tick(dir, afterNow))
      System.err.println(f"[hourly] op $i ${r.secs}%.2f s")
      if (corrupt && i == 1) corruptOneRow(ctx, dir)
      val bad = r.out match {
        case Left(e) => Seq(s"tick $i threw ${e.getClass.getName}: ${e.getMessage}")
        case Right(n) if n != 1 => Seq(s"tick $i ingested $n hours, not 1")
        case Right(_) => check(ctx, dir, expected).map(m => s"tick $i: $m")
      }
      failures ++= bad
      if (bad.nonEmpty) failedOps += 1
      if (i == nTicks) {
        amp = (FileUtils.sizeOfDirectory(dir.resolve("store").toFile) +
          FileUtils.sizeOfDirectory(dir.resolve("mv").toFile)).toDouble /
          hours.map(_.bytes).sum
        resultRows = countRows(ctx, dir)
      }
      FileUtils.deleteDirectory(dir.toFile)
      if (traced && !traceThis) { untraced += r.secs; None } else Some(r)
    }
    val passS = (System.nanoTime() - p0) / 1e9
    val liveMb = liveHeapMb()
    val secs = ops.map(_.secs)
    val layerRecord =
      if (!traced) Map.empty[String, Double]
      else Layers.metrics(ops, untraced.toSeq, amp)
    Seq(
      "workload" -> "hourly_tick",
      "attempted" -> nTicks,
      "failed" -> failedOps,
      "failures" -> failures.toSeq,
      "setup_parts" -> Map("gen_s" -> genS, "template_s" -> templateS),
      "setup_s" -> (genS + templateS),
      "op_s" -> (secs ++ untraced),
      "pass_s" -> passS,
      "live_heap_mb" -> liveMb,
      "sizes" -> Map("events_per_hour" -> perHour, "history_hours" -> history,
        "ndjson_bytes" -> hours.map(_.bytes).sum,
        "expected_rows" -> (expected._1.size + expected._2.size)),
      "counts" -> Map("result_rows" -> resultRows, "store_amp" -> amp,
        "op_jobs" -> ops.flatMap(_.layers).map(_.jobs),
        "files_before" -> ops.flatMap(_.layers).map(_.filesBefore),
        "files_after" -> ops.flatMap(_.layers).map(_.filesAfter)),
      "layers" -> layerRecord)
  }

  private def rows(ctx: Ctx, dir: Path, table: String): Vector[String] =
    ctx.spark.read.parquet(dir.resolve(s"store/results/$table").toString)
      .collect().map(r => (0 until r.length).map(r.get).mkString("|"))
      .sorted.toVector

  private def countRows(ctx: Ctx, dir: Path): Long =
    rows(ctx, dir, "commits").size + rows(ctx, dir, "comments").size

  /** Differences between the result tables and the oracle, if any. */
  def check(ctx: Ctx, dir: Path, want: (Vector[String], Vector[String]))
      : Seq[String] =
    Seq("commits" -> want._1, "comments" -> want._2).flatMap { case (t, w) =>
      val got = rows(ctx, dir, t)
      if (got == w) None
      else Some(s"results/$t has ${got.size} rows, oracle ${w.size}; " +
        s"first difference: ${got.diff(w).headOption.orElse(w.diff(got).headOption).getOrElse("")}")
    }

  /** Self-test hook: rewrite results/commits with one row's count bumped
    * (or one extra row when the table is empty).
    */
  private def corruptOneRow(ctx: Ctx, dir: Path): Unit = {
    val path = dir.resolve("store/results/commits")
    val df = ctx.spark.read.parquet(path.toString)
    val schema = StructType(Seq(StructField("username", StringType),
      StructField("repo", StringType), StructField("message", StringType),
      StructField("count", LongType)))
    val rs = df.collect().map(r => Row(r.getString(0), r.getString(1),
      r.getString(2), r.getLong(3))).toSeq
    val bad = rs.headOption.map(r => Row(r.getString(0), r.getString(1),
      r.getString(2), r.getLong(3) + 1)).getOrElse(Row("x", "y", "z dask", 9L))
    val tmp = dir.resolve("corrupt.tmp")
    ctx.spark.createDataFrame(
      ctx.spark.sparkContext.parallelize(bad +: rs.drop(1), 1), schema)
      .write.parquet(tmp.toString)
    FileUtils.deleteDirectory(path.toFile)
    java.nio.file.Files.move(tmp, path)
  }
}
