package graft.ingest

import java.time.Instant
import org.apache.spark.sql.SparkSession

/** The hourly serve loop — parity with Prefect's
  * `workflow.serve(interval=timedelta(hours=1))` (`preprocess.py:277-280`):
  * run the tick (`GhaPipeline.incrementalRunWithViews`) once per hour,
  * forever, resuming from the store's own watermark so restarts and
  * crashes pick up exactly where the last completed tick stopped. A first
  * tick over a store with a backlog catches up every landed hour in one
  * batch through the same path.
  *
  * `loop` is the testable core: clock and sleeper are injected, tick count
  * is bounded, failures back off exponentially (a dead upstream shouldn't
  * hot-spin the driver) and never kill the daemon — the reference gets the
  * same durability from Prefect's flow-run isolation.
  */
object Serve {

  /** Milliseconds until the next tick: the next hour boundary plus a small
    * publish lag, pushed back exponentially after consecutive failures
    * (2^f minutes, capped at 1h).
    */
  def delayMs(now: Instant, consecutiveFailures: Int): Long = {
    val nextHour = (now.getEpochSecond / 3600 + 1) * 3600
    val publishLagSec = 60L
    val base = (nextHour - now.getEpochSecond + publishLagSec) * 1000L
    val backoff =
      if (consecutiveFailures <= 0) 0L
      else math.min(60000L << math.min(consecutiveFailures - 1, 6),
        3600000L)
    base + backoff
  }

  /** Run up to `ticks` incremental ticks (`ticks < 0` = forever). Returns
    * the total number of ingested files across all ticks. With `baseUrl`
    * set, each tick first downloads its missing hours from that remote
    * (full `process_file` fetch parity via `GhaPipeline.fetchAndRun`);
    * without it, ticks consume pre-landed files only. The materialized
    * views live in `mvDir`, by default `<storeDir>/mv`.
    */
  def loop(spark: SparkSession, landingDir: String, storeDir: String,
      backfillStart: Instant, keyword: String = " dask", ticks: Int = -1,
      now: () => Instant = () => Instant.now(),
      sleeper: Long => Unit = Thread.sleep,
      baseUrl: Option[String] = None,
      mvDir: Option[String] = None): Long = {
    val views = mvDir.getOrElse(s"$storeDir/mv")
    var ingested = 0L
    var failures = 0
    var i = 0
    while (ticks < 0 || i < ticks) {
      try {
        ingested += (baseUrl match {
          case Some(b) => GhaPipeline.fetchAndRun(spark, b, landingDir,
            storeDir, views, now(), backfillStart, keyword).size
          case None => GhaPipeline.incrementalRunWithViews(spark, landingDir,
            storeDir, views, now(), backfillStart, keyword).size
        })
        failures = 0
      } catch {
        case scala.util.control.NonFatal(e) =>
          failures += 1
          System.err.println(
            s"[serve] tick failed ($failures consecutive): ${e.getMessage}")
      }
      i += 1
      if (ticks < 0 || i < ticks) sleeper(delayMs(now(), failures))
    }
    ingested
  }

  /** The session wiring [[main]] performs before its first tick, split out
    * so the no-network path is testable: credential/scale parity with the
    * reference's env push (preprocess.py:29-37, 254-257) — without this
    * the AWS_* env vars never reach `fs.s3a.*` and an `s3a://` store
    * fails auth. Returns the S3A keys that were applied.
    */
  def configure(spark: SparkSession,
      env: Map[String, String] = sys.env): Seq[String] = {
    val applied = graft.store.CloudStorage.applyS3FromEnv(spark, env)
    graft.store.CloudStorage.applyS3ScaleDefaults(spark)
    applied
  }

  /** `Serve <landingDir> <storeDir> <backfillStartIso> [keyword] [baseUrl]
    * [ticks]` — the production daemon entry point. With a baseUrl (e.g.
    * the GH-Archive origin) each tick fetches its own hours. `ticks`
    * bounds the run (`-1` = forever, the default): a first run against a
    * real object store validates with `ticks=1` — one fetch + ingest +
    * publish cycle, then exit 0 — before being left as a daemon. Paths
    * may be any Hadoop filesystem URI (`file://`, `s3a://bucket/...`).
    * The views live under `<storeDir>/mv`; a store that has none yet gets
    * them rebuilt from its history on the first tick.
    */
  def main(args: Array[String]): Unit = {
    val landingDir = args(0)
    val storeDir = args(1)
    val backfillStart = Instant.parse(args(2))
    val keyword = if (args.length > 3) args(3) else " dask"
    val baseUrl = if (args.length > 4) Some(args(4)) else None
    val ticks = if (args.length > 5) args(5).toInt else -1
    val spark = sys.env.get("SPARK_MASTER")
      .fold(graft.LocalSession(ui = true))(graft.LocalSession(_, ui = true))
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
    loop(spark, landingDir, storeDir, backfillStart, keyword, ticks = ticks,
      baseUrl = baseUrl)
  }
}
