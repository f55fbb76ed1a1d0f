package graft.ingest

import java.io.ByteArrayOutputStream
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger
import java.util.zip.GZIPOutputStream
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.store.TableStore

/** S1 e2e: the remote HTTP(S) gzip source (`preprocess.py:144-147` parity).
  * A fixture-served local HTTP server stands in for data.gharchive.org —
  * no egress in this environment, same wire contract (gzip body, one URL
  * per hour, flaky 5xx + retry budget).
  */
class FetchSpec extends AnyFunSuite with SparkFixture {

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes("UTF-8"))
    gz.close()
    bos.toByteArray
  }


  /** Serve `routes` (path -> gzipped body); `flakyFailures` first hits of a
    * path listed in `flaky` return 503 before succeeding. Paths in `chunked`
    * are served with chunked transfer encoding (no Content-Length header).
    */
  private def withServer(routes: Map[String, Array[Byte]],
      flaky: Set[String] = Set.empty, flakyFailures: Int = 2,
      chunked: Set[String] = Set.empty)
      (body: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    server.createContext("/", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
      val n = hits.computeIfAbsent(path, _ => new AtomicInteger).incrementAndGet()
      routes.get(path) match {
        case Some(bytes) if !(flaky(path) && n <= flakyFailures) =>
          ex.sendResponseHeaders(200, if (chunked(path)) 0L else bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        case Some(_) =>
          ex.sendResponseHeaders(503, -1)
        case None =>
          ex.sendResponseHeaders(404, -1)
      }
      ex.close()
    })
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("download → landing dir → six curated tables (S1 e2e)") {
    val corpus = Fixture.good.mkString("\n")
    withServer(Map(
      "/2024-02-29-1.json.gz" -> gzip(corpus),
      "/2024-02-29-2.json.gz" -> gzip(Fixture.good.head))) { base =>
      val dir = tmpDir("fetch")
      val st = Fetch.download(spark,
        Seq(s"$base/2024-02-29-1.json.gz", s"$base/2024-02-29-2.json.gz"),
        s"$dir/landing")
      val rows = st.collect()
      assert(rows.length === 2 && rows.forall(_.getAs[Boolean]("ok")))
      // landed files are valid gzip NDJSON for the unchanged ingest path
      val ingested = GhaPipeline.incrementalRunWithViews(spark,
        s"$dir/landing", s"$dir/store", s"$dir/mv",
        java.time.Instant.parse("2024-02-29T04:10:00Z"),
        java.time.Instant.parse("2024-02-29T01:00:00Z"))
      assert(ingested.map(_.split('/').last) ===
        Seq("2024-02-29-1.json.gz", "2024-02-29-2.json.gz"))
      for (t <- graft.schema.GhaSchemas.tableNames)
        assert(TableStore.read(spark, s"$dir/store/$t",
          graft.schema.GhaSchemas.curated(t)).count() >= 0)
      // hour 1 has one commit-bearing push (2 commits), hour 2 repeats it
      assert(TableStore.read(spark, s"$dir/store/commit",
        graft.schema.GhaSchemas.curated("commit")).count() === 4)
      assert(TableStore.read(spark, s"$dir/store/watch",
        graft.schema.GhaSchemas.curated("watch")).count() === 1)
    }
  }

  test("transient 5xx is retried to success; attempts recorded") {
    withServer(Map("/2024-02-29-3.json.gz" -> gzip(Fixture.good.head)),
      flaky = Set("/2024-02-29-3.json.gz"), flakyFailures = 2) { base =>
      val dir = tmpDir("fetch")
      val st = Fetch.download(spark, Seq(s"$base/2024-02-29-3.json.gz"),
        s"$dir/landing", retries = 5, backoffMs = 10L).collect().head
      assert(st.getAs[Boolean]("ok"))
      assert(st.getAs[Int]("attempts") === 3) // 2 failures + 1 success
      assert(Ingest.readLines(spark, Seq(st.getAs[String]("path")))
        .count() === 1)
    }
  }

  test("permanent 404 fails FAST (one attempt, deterministic error); no half file left behind") {
    withServer(Map.empty) { base =>
      val dir = tmpDir("fetch")
      val st = Fetch.download(spark, Seq(s"$base/2024-02-29-4.json.gz"),
        s"$dir/landing", retries = 3, backoffMs = 1L).collect().head
      assert(!st.getAs[Boolean]("ok"))
      // retrying can't fix a 404 — one attempt, not the whole budget, and
      // the recorded error is GUARANTEED to carry the 404 (the permanent-
      // gap tombstone in GhaPipeline keys off that string)
      assert(st.getAs[Int]("attempts") === 1)
      assert(st.getAs[String]("error").contains("404"))
      // atomic temp+rename: a failed URL leaves nothing for the scan to trip on
      val landing = new java.io.File(s"$dir/landing")
      assert(!landing.exists() ||
        landing.listFiles().forall(!_.getName.endsWith(".json.gz")))
    }
  }

  test("transient 5xx exhaustion burns the full retry budget, recorded not thrown") {
    withServer(Map("/2024-02-29-6.json.gz" -> gzip(Fixture.good.head)),
      flaky = Set("/2024-02-29-6.json.gz"), flakyFailures = 99) { base =>
      val dir = tmpDir("fetch")
      val st = Fetch.download(spark, Seq(s"$base/2024-02-29-6.json.gz"),
        s"$dir/landing", retries = 3, backoffMs = 1L).collect().head
      assert(!st.getAs[Boolean]("ok"))
      assert(st.getAs[Int]("attempts") === 3) // 5xx stays retryable
      assert(st.getAs[String]("error").contains("503"))
    }
  }

  test("fetchAndRun: tick downloads its own hours, resumes, never skips a failed hour") {
    import java.time.Instant
    def commentLine(user: String, h: Int) =
      s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"b","author_association":"NONE"}}}"""
    val backfill = Instant.parse("2024-02-29T01:00:00Z")
    // hour 1 serves, hour 2 is missing from the remote (404), hour 3 serves:
    // the tick must ingest ONLY hour 1 (contiguous prefix) so hour 2 can
    // still be picked up when it publishes late
    withServer(Map(
      "/2024-02-29-1.json.gz" -> gzip(commentLine("u1", 1)),
      "/2024-02-29-3.json.gz" -> gzip(commentLine("u3", 3)))) { base =>
      val dir = tmpDir("fetch")
      val run1 = GhaPipeline.fetchAndRun(spark, base, s"$dir/landing",
        s"$dir/store", s"$dir/mv",
        Instant.parse("2024-02-29T05:10:00Z"), backfill,
        retries = 1)
      assert(run1.map(_.split('/').last) === Seq("2024-02-29-1.json.gz"))
      assert(TableStore.read(spark, s"$dir/store/comment").count() === 1)
      // hour 2 publishes late; next tick fetches it AND already-landed hour
      // 3 is ingested in the same contiguous batch
      val run2Server = Map("/2024-02-29-2.json.gz" -> gzip(commentLine("u2", 2)))
      withServer(run2Server) { base2 =>
        val run2 = GhaPipeline.fetchAndRun(spark, base2, s"$dir/landing",
          s"$dir/store", s"$dir/mv",
          Instant.parse("2024-02-29T05:10:00Z"), backfill,
          retries = 1)
        assert(run2.map(_.split('/').last) ===
          Seq("2024-02-29-2.json.gz", "2024-02-29-3.json.gz"))
      }
      val spark2 = spark
      import spark2.implicits._
      assert(TableStore.read(spark, s"$dir/store/comment")
        .select("username").as[String].collect().sorted.toSeq
        === Seq("u1", "u2", "u3"))
    }
  }

  test("permanently missing hour is tombstoned after the grace period; recent hours are not") {
    import java.time.Instant
    def commentLine(user: String, h: Int) =
      s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"b","author_association":"NONE"}}}"""
    // hours 1 and 3 exist; 2 and 4 are permanently absent (404); 5..6 are
    // recent enough to still be within the publish grace
    withServer(Map(
      "/2024-02-29-1.json.gz" -> gzip(commentLine("u1", 1)),
      "/2024-02-29-3.json.gz" -> gzip(commentLine("u3", 3)))) { base =>
      val dir = tmpDir("fetch")
      val run = GhaPipeline.fetchAndRun(spark, base, s"$dir/landing",
        s"$dir/store", s"$dir/mv",
        Instant.parse("2024-02-29T07:10:00Z"),
        Instant.parse("2024-02-29T01:00:00Z"), retries = 1,
        gapGraceHours = 2) // cutoff = 05:10 -> hours 2 and 4 are past grace
      // gap hours 2 and 4 became empty tombstones, so the contiguous batch
      // runs 1..4 and halts at hour 5 (missing but within grace)
      assert(run.map(_.split('/').last) === Seq("2024-02-29-1.json.gz",
        "2024-02-29-2.json", "2024-02-29-3.json.gz", "2024-02-29-4.json"))
      assert(TableStore.read(spark, s"$dir/store/comment",
        graft.schema.GhaSchemas.curated("comment")).count() === 2)
      // the watermark advanced past the permanent gaps
      assert(GhaPipeline.readHwm(spark, s"$dir/store")
        === Some(Instant.parse("2024-02-29T04:00:00Z")))
    }
  }

  test("blocked first hour with later hours succeeding still throws (contiguity stall)") {
    import java.time.Instant
    def commentLine(user: String, h: Int) =
      s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"b","author_association":"NONE"}}}"""
    // hour 1 persistently 503s while hour 2 serves fine: the contiguous
    // batch ingests nothing. A clean empty return would look like an idle
    // tick — Serve's backoff never engages and the watermark stalls.
    withServer(Map(
      "/2024-02-29-1.json.gz" -> gzip(commentLine("u1", 1)),
      "/2024-02-29-2.json.gz" -> gzip(commentLine("u2", 2))),
      flaky = Set("/2024-02-29-1.json.gz"), flakyFailures = 2) { base =>
      val dir = tmpDir("fetch")
      val e = intercept[java.io.IOException] {
        GhaPipeline.fetchAndRun(spark, base, s"$dir/landing",
          s"$dir/store", s"$dir/mv",
          Instant.parse("2024-02-29T03:10:00Z"),
          Instant.parse("2024-02-29T01:00:00Z"), retries = 2)
      }
      assert(e.getMessage.contains("downloads failed"))
      assert(e.getMessage.contains("blocked at hour 2024-02-29T01:00:00Z"))
      // hour 2 DID land; hour 1's 503 streak ends (flakyFailures exhausted)
      // so the next tick downloads it and ingests both hours in order
      val ok = GhaPipeline.fetchAndRun(spark, base, s"$dir/landing",
        s"$dir/store", s"$dir/mv",
        Instant.parse("2024-02-29T03:10:00Z"),
        Instant.parse("2024-02-29T01:00:00Z"), retries = 2)
      assert(ok.map(_.split('/').last) ===
        Seq("2024-02-29-1.json.gz", "2024-02-29-2.json.gz"))
    }
  }

  test("dead upstream: all downloads fail, nothing ingested -> tick throws for backoff") {
    import java.time.Instant
    withServer(Map.empty) { base =>
      val dir = tmpDir("fetch")
      val e = intercept[java.io.IOException] {
        GhaPipeline.fetchAndRun(spark, base, s"$dir/landing",
          s"$dir/store", s"$dir/mv",
          Instant.parse("2024-02-29T03:10:00Z"),
          Instant.parse("2024-02-29T01:00:00Z"), retries = 1)
      }
      assert(e.getMessage.contains("downloads failed"))
    }
  }

  test("chunked response truncated mid-gzip is rejected, not landed") {
    // no Content-Length + early close = clean EOF at the byte layer; only
    // the gzip trailer check can catch it. Cut the 8-byte CRC/ISIZE trailer.
    val whole = gzip(Fixture.good.mkString("\n"))
    val cut = whole.dropRight(8)
    withServer(
      Map("/2024-02-29-6.json.gz" -> cut, "/2024-02-29-7.json.gz" -> whole),
      chunked = Set("/2024-02-29-6.json.gz", "/2024-02-29-7.json.gz")) { base =>
      val dir = tmpDir("fetch")
      val st = Fetch.download(spark,
        Seq(s"$base/2024-02-29-6.json.gz", s"$base/2024-02-29-7.json.gz"),
        s"$dir/landing", retries = 2, backoffMs = 1L)
        .collect().map(r => r.getAs[String]("url").split('/').last ->
          (r.getAs[Boolean]("ok"), r.getAs[String]("error"))).toMap
      val (okCut, errCut) = st("2024-02-29-6.json.gz")
      assert(!okCut && errCut.contains("corrupt gzip"))
      // an intact chunked body passes the trailer check and lands
      assert(st("2024-02-29-7.json.gz")._1)
      val landing = new java.io.File(s"$dir/landing")
      assert(landing.listFiles().map(_.getName)
        .filter(_.endsWith(".json.gz")).toSet === Set("2024-02-29-7.json.gz"))
    }
  }

  test("re-download overwrites idempotently (re-run safety)") {
    withServer(Map("/2024-02-29-5.json.gz" -> gzip(Fixture.good.head))) { base =>
      val dir = tmpDir("fetch")
      val url = s"$base/2024-02-29-5.json.gz"
      Fetch.download(spark, Seq(url), s"$dir/landing").collect()
      val st = Fetch.download(spark, Seq(url), s"$dir/landing").collect().head
      assert(st.getAs[Boolean]("ok"))
      assert(Ingest.readLines(spark, Seq(st.getAs[String]("path")))
        .count() === 1)
    }
  }
}
