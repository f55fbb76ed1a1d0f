package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S1 completion: the remote HTTP(S) gzip source. The reference's very
  * first operator streams `https://data.gharchive.org/YYYY-MM-DD-H.json.gz`
  * directly (`/root/reference/preprocess.py:144-147`, `gha.ipynb:78`), one
  * Dask task per hourly file with `retries=10` (`preprocess.py:260-261`).
  *
  * Spark's Hadoop filesystems don't speak plain `https://`, so the engine
  * splits the reference's fetch+parse task into two Spark-native stages:
  * a distributed DOWNLOAD stage (this object — one task per URL, the same
  * parallel grain and retry budget as the reference) landing `.json.gz`
  * files into a shared landing dir, feeding the existing unchanged scan
  * (`Ingest.readLines` — gzip stays unsplittable, one task per file).
  * Files stay compressed on the wire AND on disk; nothing decompresses
  * twice.
  *
  * At 100 TB the landing dir is HDFS/S3 (the Hadoop `Path` below resolves
  * any configured scheme) and parallelism is #URLs — identical to the
  * reference's `client.map(process_file, filenames)` fan-out.
  */
object Fetch {

  /** Per-URL download outcome (a row of the returned status frame). */
  case class FetchStatus(url: String, path: String, bytes: Long,
      attempts: Int, ok: Boolean, error: String)

  /** Distributed download: one task per URL, `retries` attempts each with
    * linear backoff (reference fault budget: `retries=10`,
    * `preprocess.py:261`). Writes are atomic per file (temp + rename), so a
    * killed task never leaves a half file for `Ingest.readLines` to parse;
    * re-running a URL overwrites idempotently. Failures are RECORDED, not
    * thrown — callers decide whether a missing hour aborts the batch (the
    * reference's behavior is task failure after retry exhaustion; surface
    * that by asserting `ok` on the returned frame).
    */
  def download(spark: SparkSession, urls: Seq[String], landingDir: String,
      retries: Int = 10, backoffMs: Long = 500L): DataFrame = {
    import spark.implicits._
    if (urls.isEmpty) return spark.emptyDataset[FetchStatus].toDF()
    // the SESSION's Hadoop conf must reach the download tasks (S3A
    // credentials/endpoints land there via CloudStorage — a bare
    // `new Configuration()` on the executor would see none of it, and an
    // s3a:// landing dir would fail auth on every attempt). Configuration
    // isn't serializable — ship the entries, rebuild per task (same
    // pattern as TableStore.footerStats).
    import scala.jdk.CollectionConverters._
    val confEntries = spark.sparkContext.hadoopConfiguration.iterator()
      .asScala.map(e => (e.getKey, e.getValue)).toArray
    // EAGER: the map has side effects, and a lazy RDD-backed frame would
    // silently re-download every URL on each action a caller runs on the
    // status report. One execution, pinned; the result is #URLs rows.
    val statuses = spark.sparkContext
      .parallelize(urls, urls.size)
      .map { u =>
        val conf = new org.apache.hadoop.conf.Configuration()
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        fetchOne(u, landingDir, retries, backoffMs, conf)
      }
      .collect()
    statuses.toSeq.toDF()
  }

  /** A response that retrying cannot fix: 4xx other than request-timeout
    * (408) and rate-limit (429). Fail-fast matters twice — a genuinely
    * missing hour (404) must not burn the whole retry×backoff budget every
    * tick, and the recorded error must DETERMINISTICALLY be the 404 (not
    * whatever transient error the last attempt happened to hit) because
    * `GhaPipeline` keys permanent-gap tombstoning off that string.
    */
  private class PermanentHttpError(msg: String)
    extends java.io.IOException(msg)

  /** Runs on the executor: GET with retries, stream to `<landingDir>/<name>`
    * through a temp file. Uses the Hadoop FS of the landing path with the
    * SESSION's shipped conf, so local dirs in tests and credentialed
    * HDFS/S3 in production behave identically.
    */
  private def fetchOne(url: String, landingDir: String, retries: Int,
      backoffMs: Long,
      conf: org.apache.hadoop.conf.Configuration): FetchStatus = {
    import org.apache.hadoop.fs.Path
    val name = url.substring(url.lastIndexOf('/') + 1)
    val dst = new Path(landingDir, name)
    val fs = dst.getFileSystem(conf)
    var attempt = 0
    var lastErr = ""
    while (attempt < math.max(retries, 1)) {
      attempt += 1
      try {
        val conn = new java.net.URL(url).openConnection()
          .asInstanceOf[java.net.HttpURLConnection]
        conn.setConnectTimeout(30000)
        conn.setReadTimeout(300000)
        conn.setRequestProperty("Accept-Encoding", "identity")
        val code = conn.getResponseCode
        if (code != 200) {
          conn.disconnect()
          if (code >= 400 && code < 500 && code != 408 && code != 429)
            throw new PermanentHttpError(s"HTTP $code for $url")
          throw new java.io.IOException(s"HTTP $code for $url")
        }
        val expected = conn.getContentLengthLong // -1 when server omits it
        val in = conn.getInputStream
        // unique temp per attempt: a speculative/retried task for the same
        // URL must never interleave writes into a shared temp path
        val tmp = new Path(landingDir,
          s"_inflight.$name.${java.util.UUID.randomUUID()}")
        var total = 0L
        var renamed = false
        try {
          val out = fs.create(tmp, true)
          try {
            val buf = new Array[Byte](1 << 16)
            var r = in.read(buf)
            while (r >= 0) { out.write(buf, 0, r); total += r; r = in.read(buf) }
          } finally {
            out.close()
            in.close()
          }
          // a proxy closing early gives a clean EOF, not an IOException —
          // without this check a truncated gzip would land and permanently
          // wedge every later scan of this hour
          if (expected >= 0 && total != expected)
            throw new java.io.IOException(
              s"truncated body: $total of $expected bytes for $url")
          // no Content-Length (chunked proxies): a mid-body close looks like
          // clean EOF, so the byte count can't catch truncation — validate
          // the landed gzip itself (decompress to null; GZIPInputStream
          // checks the trailer CRC/ISIZE at EOF) before the rename makes it
          // visible. Failure is retryable like any short read.
          if (expected < 0 && name.endsWith(".gz")) {
            // the GZIPInputStream CONSTRUCTOR itself throws on a corrupt
            // header (truncation mid-header, an HTML error page with 200)
            // — it must sit inside the classify-and-close scope too, or
            // the raw stream leaks and the error loses its actionable
            // corrupt-gzip framing
            val rawIn = fs.open(tmp)
            try {
              val check = new java.util.zip.GZIPInputStream(rawIn)
              val buf = new Array[Byte](1 << 16)
              while (check.read(buf) >= 0) ()
            } catch {
              case e: java.io.IOException =>
                throw new java.io.IOException(
                  s"corrupt gzip body (no Content-Length) for $url: $e")
            } finally rawIn.close()
          }
          if (fs.exists(dst)) fs.delete(dst, false)
          // Hadoop rename reports several failures by returning false, not
          // throwing — unchecked, a lost rename would record ok=true with
          // no file landed
          if (!fs.rename(tmp, dst))
            throw new java.io.IOException(s"rename failed: $tmp -> $dst")
          renamed = true
        } finally {
          if (!renamed && fs.exists(tmp)) fs.delete(tmp, false)
        }
        return FetchStatus(url, dst.toString, total, attempt, ok = true, "")
      } catch {
        case e: PermanentHttpError =>
          return FetchStatus(url, "", 0L, attempt, ok = false, e.toString)
        case scala.util.control.NonFatal(e) =>
          lastErr = e.toString
          if (attempt < retries) Thread.sleep(math.min(backoffMs * attempt, 10000L))
      }
    }
    FetchStatus(url, "", 0L, attempt, ok = false, lastErr)
  }
}
