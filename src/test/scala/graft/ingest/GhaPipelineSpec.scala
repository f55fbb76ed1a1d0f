package graft.ingest

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.store.TableStore

/** GHA-shaped e2e (SURVEY.md §5.2 item 3): NDJSON fixtures → ingest → six
  * parquet tables → compaction → query_data → golden rows.
  */
class GhaPipelineSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  /** Richer corpus: 3 repos; org/popular gets 6 watchers + a dask commit by
    * a human and one by a bot; dask/dask is popular but excluded by prefix;
    * org/quiet has too few watches.
    */
  private def corpus: Seq[String] = {
    def watch(user: String, repo: String, h: Int) =
      s"""{"type":"WatchEvent","actor":{"login":"$user"},"repo":{"name":"$repo"},"created_at":"2024-02-29T0$h:00:00Z","payload":{"action":"started"}}"""
    def push(user: String, repo: String, msg: String, sha: String) =
      s"""{"type":"PushEvent","actor":{"login":"$user"},"repo":{"name":"$repo"},"created_at":"2024-02-29T04:00:00Z","payload":{"commits":[{"sha":"$sha","message":"$msg"}]}}"""
    def comment(user: String, repo: String, body: String) =
      s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"$repo"},"created_at":"2024-02-29T05:00:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"$body","author_association":"NONE"}}}"""
    (1 to 6).map(i => watch(s"w$i", "org/popular", i)) ++
      (1 to 6).map(i => watch(s"w$i", "dask/dask", i)) ++
      Seq(watch("w1", "org/quiet", 7),
        push("alice", "org/popular", "Use Dask for the ETL", "a1"),
        push("deploy-bot", "org/popular", "also dask here", "b1"),
        push("carol", "org/quiet", "more dask", "q1"),
        push("dave", "dask/dask", "fix dask scheduler", "d1"),
        push("erin", "org/popular", "unrelated change", "e1"),
        comment("frank", "org/popular", "have you tried dask distributed?"),
        comment("gina", "org/quiet", "try dask"))
  }

  test("workflow: ingest → compact → query_data matches golden results") {
    val base = Paths.get("/root/repo/target/tmp")
    Files.createDirectories(base)
    val dir = Files.createTempDirectory(base, "gha_e2e").toString
    val ndjson = s"$dir/2024-02-29-1.json"
    Files.write(Paths.get(ndjson), corpus.mkString("\n").getBytes)

    GhaPipeline.workflow(spark, Seq(ndjson), s"$dir/store", keyword = " dask")

    // six curated tables written, date-partitioned
    for (t <- graft.schema.GhaSchemas.tableNames)
      assert(Files.exists(Paths.get(s"$dir/store/$t")), s"missing table $t")
    assert(TableStore.read(spark, s"$dir/store/watch").count() === 13)

    // commits result: only alice (human, popular repo, ' dask' in message,
    // not dask/-prefixed). deploy-bot excluded (bot), carol (unpopular),
    // dave (dask/ prefix), erin (no keyword).
    val commits = TableStore.read(spark, s"$dir/store/results/commits")
    val rows = commits.select("username", "repo", "count")
      .as[(String, String, Long)].collect().toSeq
    assert(rows === Seq(("alice", "org/popular", 6L)))

    // comments result: frank only (gina's repo is unpopular)
    val comments = TableStore.read(spark, s"$dir/store/results/comments")
    assert(comments.select("username").as[String].collect().toSeq
      === Seq("frank"))
  }

  test("a tick's per-table jobs are described tick:<phase>:<table> and " +
    "keep the caller's job group") {
    val dir = Files.createTempDirectory("gha_desc").toString
    Files.createDirectories(Paths.get(s"$dir/landing"))
    Files.write(Paths.get(s"$dir/landing/2024-02-29-1.json"),
      corpus.mkString("\n").getBytes)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add((e.properties.getProperty("spark.job.description"),
          e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup("serve-tick", "one hourly tick")
    try {
      assert(GhaPipeline.incrementalRunWithViews(spark, s"$dir/landing",
        s"$dir/store", s"$dir/mv",
        java.time.Instant.parse("2024-02-29T03:10:00Z"),
        java.time.Instant.parse("2024-02-29T01:00:00Z")).size === 1)
      org.apache.spark.graft.CoreBridge.drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val jobs = seen.asScala.toSeq
    val described = jobs.collect { case (d, g) if d != null => (d, g) }
    // every table appends; only the tables with rows have a partition to
    // compact (the corpus holds watches, pushes and comments). The view
    // folds run in the appends' fan-out, the result overwrites in the
    // compactions'.
    for (t <- graft.schema.GhaSchemas.tableNames)
      assert(described.exists(_._1 == s"tick:append:$t"), s"append of $t")
    for (v <- Seq("repo_counts", "watcher_sketches", "kw_commits", "kw_comments"))
      assert(described.exists(_._1 == s"tick:append:$v"), s"fold of $v")
    for (t <- Seq("watch", "commit", "comment"))
      assert(described.exists(_._1 == s"tick:compact:$t"), s"compact of $t")
    for (r <- Seq("commits", "comments"))
      assert(described.exists(_._1 == s"tick:compact:results/$r"),
        s"publish of results/$r")
    assert(described.filter(_._1.startsWith("tick:")).forall(
      _._2 == "serve-tick"), s"fan-out jobs lost the job group: $described")
  }

  test("incrementalRun: watermark-driven resume ingests only new hours (§3.1 parity)") {
    import java.time.Instant
    val base = Paths.get("/root/repo/target/tmp")
    val dir = Files.createTempDirectory(base, "gha_wm").toString
    Files.createDirectories(Paths.get(s"$dir/landing"))
    def commentLine(user: String, h: Int) =
      s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"b","author_association":"NONE"}}}"""
    Files.write(Paths.get(s"$dir/landing/2024-02-29-1.json"),
      commentLine("u1", 1).getBytes)
    Files.write(Paths.get(s"$dir/landing/2024-02-29-2.json"),
      commentLine("u2", 2).getBytes)

    val backfill = Instant.parse("2024-02-29T01:00:00Z")
    // now = 04:10 -> stop = 03:00 floor minus 1h lag = hours 1..3 eligible
    val run1 = GhaPipeline.incrementalRun(spark, s"$dir/landing",
      s"$dir/store", Instant.parse("2024-02-29T04:10:00Z"), backfill)
    assert(run1.map(_.split('/').last).sorted ===
      Seq("2024-02-29-1.json", "2024-02-29-2.json"))

    // caught up: watermark 02:30 -> start 03:00; no 03:00 file yet
    val run2 = GhaPipeline.incrementalRun(spark, s"$dir/landing",
      s"$dir/store", Instant.parse("2024-02-29T04:10:00Z"), backfill)
    assert(run2.isEmpty)

    // hour 3 lands + clock advances -> ONLY hour 3 is ingested
    Files.write(Paths.get(s"$dir/landing/2024-02-29-3.json"),
      commentLine("u3", 3).getBytes)
    val run3 = GhaPipeline.incrementalRun(spark, s"$dir/landing",
      s"$dir/store", Instant.parse("2024-02-29T05:10:00Z"), backfill)
    assert(run3.map(_.split('/').last) === Seq("2024-02-29-3.json"))
    assert(TableStore.read(spark, s"$dir/store/comment").count() === 3)
  }

  test("a missing middle hour halts the batch; the late file is never skipped") {
    import java.time.Instant
    val base = Paths.get("/root/repo/target/tmp")
    val dir = Files.createTempDirectory(base, "gha_gap").toString
    Files.createDirectories(Paths.get(s"$dir/landing"))
    def commentLine(user: String, h: Int) =
      s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"b","author_association":"NONE"}}}"""
    // hours 1 and 3 landed, hour 2 late: the tick must stop AT the gap —
    // ingesting hour 3 would advance the hwm past hour 2 and lose it forever
    Files.write(Paths.get(s"$dir/landing/2024-02-29-1.json"),
      commentLine("u1", 1).getBytes)
    Files.write(Paths.get(s"$dir/landing/2024-02-29-3.json"),
      commentLine("u3", 3).getBytes)
    val backfill = Instant.parse("2024-02-29T01:00:00Z")
    val run1 = GhaPipeline.incrementalRun(spark, s"$dir/landing",
      s"$dir/store", Instant.parse("2024-02-29T05:10:00Z"), backfill)
    assert(run1.map(_.split('/').last) === Seq("2024-02-29-1.json"))
    // hour 2 publishes late; the next tick picks up 2 AND the waiting 3
    Files.write(Paths.get(s"$dir/landing/2024-02-29-2.json"),
      commentLine("u2", 2).getBytes)
    val run2 = GhaPipeline.incrementalRun(spark, s"$dir/landing",
      s"$dir/store", Instant.parse("2024-02-29T05:10:00Z"), backfill)
    assert(run2.map(_.split('/').last) ===
      Seq("2024-02-29-2.json", "2024-02-29-3.json"))
    assert(TableStore.read(spark, s"$dir/store/comment").count() === 3)
  }

  test("crash mid-batch: inflight marker rolls back half-written hours (T4)") {
    import java.time.Instant
    val base = Paths.get("/root/repo/target/tmp")
    val dir = Files.createTempDirectory(base, "gha_crash").toString
    Files.createDirectories(Paths.get(s"$dir/landing"))
    def commentLine(user: String, h: Int) =
      s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"b","author_association":"NONE"}}}"""
    Files.write(Paths.get(s"$dir/landing/2024-02-29-1.json"),
      commentLine("u1", 1).getBytes)
    val backfill = Instant.parse("2024-02-29T01:00:00Z")

    // clean run through hour 1 (stop = floor(02:10) - 1h = hour 1 only)
    GhaPipeline.incrementalRun(spark, s"$dir/landing", s"$dir/store",
      Instant.parse("2024-02-29T02:10:00Z"), backfill)
    assert(TableStore.read(spark, s"$dir/store/comment").count() === 1)

    // simulate a run that appended hour 2 but DIED before advancing the hwm:
    // data is in, inflight marker is still there
    Files.write(Paths.get(s"$dir/landing/2024-02-29-2.json"),
      commentLine("u2", 2).getBytes)
    GhaPipeline.ingest(spark, Seq(s"$dir/landing/2024-02-29-2.json"),
      s"$dir/store")
    Files.write(Paths.get(s"$dir/store/_ingest_inflight"),
      "2024-02-29T02:00:00Z|2024-02-29T02:00:00Z".getBytes)
    assert(TableStore.read(spark, s"$dir/store/comment").count() === 2)

    // next tick: recovery rolls hour 2 back, then re-ingests it exactly once
    GhaPipeline.incrementalRun(spark, s"$dir/landing", s"$dir/store",
      Instant.parse("2024-02-29T04:10:00Z"), backfill)
    val users = TableStore.read(spark, s"$dir/store/comment")
      .select("username").as[String].collect().toSeq.sorted
    assert(users === Seq("u1", "u2")) // no duplicate u2
  }

  test("crash after commit, before marker cleanup: no rollback, no re-ingest") {
    import java.time.Instant
    val base = Paths.get("/root/repo/target/tmp")
    val dir = Files.createTempDirectory(base, "gha_crash2").toString
    Files.createDirectories(Paths.get(s"$dir/landing"))
    def commentLine(user: String, h: Int) =
      s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"b","author_association":"NONE"}}}"""
    Files.write(Paths.get(s"$dir/landing/2024-02-29-1.json"),
      commentLine("u1", 1).getBytes)
    val backfill = Instant.parse("2024-02-29T01:00:00Z")
    GhaPipeline.incrementalRun(spark, s"$dir/landing", s"$dir/store",
      Instant.parse("2024-02-29T03:10:00Z"), backfill)
    // hwm says hour 1 is committed; a stale marker for hour 1 must be a no-op
    Files.write(Paths.get(s"$dir/store/_ingest_inflight"),
      "2024-02-29T01:00:00Z|2024-02-29T01:00:00Z".getBytes)
    assert(!GhaPipeline.recoverInflight(spark, s"$dir/store")) // no rollback
    assert(TableStore.read(spark, s"$dir/store/comment").count() === 1)
    assert(!Files.exists(Paths.get(s"$dir/store/_ingest_inflight")))
  }

  test("corrupt inflight marker fails actionably, naming the marker path") {
    val base = Paths.get("/root/repo/target/tmp")
    val dir = Files.createTempDirectory(base, "gha_badmark").toString
    Files.createDirectories(Paths.get(s"$dir/store"))
    for (bad <- Seq("not-a-range", "a|b|c", "2024-02-29T01:00:00Z|garbage")) {
      Files.write(Paths.get(s"$dir/store/_ingest_inflight"), bad.getBytes)
      val e = intercept[java.io.IOException] {
        GhaPipeline.recoverInflight(spark, s"$dir/store")
      }
      // MatchError/DateTimeParseException here would wedge every later tick
      // with no hint; the error must say where the marker is and what to do
      assert(e.getMessage.contains("_ingest_inflight"))
      assert(e.getMessage.contains(bad))
      // the marker survives for inspection — recovery never guesses a range
      assert(Files.exists(Paths.get(s"$dir/store/_ingest_inflight")))
      Files.delete(Paths.get(s"$dir/store/_ingest_inflight"))
    }
  }

  test("ingest is re-runnable: append accumulates per batch (storage union-all)") {
    val base = Paths.get("/root/repo/target/tmp")
    val dir = Files.createTempDirectory(base, "gha_inc").toString
    val f = s"$dir/h1.json"
    Files.write(Paths.get(f), corpus.mkString("\n").getBytes)
    GhaPipeline.ingest(spark, Seq(f), s"$dir/store")
    val n1 = TableStore.read(spark, s"$dir/store/commit").count()
    GhaPipeline.ingest(spark, Seq(f), s"$dir/store")
    assert(TableStore.read(spark, s"$dir/store/commit").count() === 2 * n1)
  }
}
