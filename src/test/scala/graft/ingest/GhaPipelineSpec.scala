package graft.ingest

import java.nio.file.{Files, Paths}
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.store.TableStore

/** GHA-shaped e2e (SURVEY.md §5.2 item 3): NDJSON fixtures → the hourly
  * tick (ingest → six parquet tables → compaction → query_data over the
  * views) → golden rows, plus the tick's resume and crash bookkeeping.
  */
class GhaPipelineSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def watchAt(user: String, repo: String, at: String) =
    s"""{"type":"WatchEvent","actor":{"login":"$user"},"repo":{"name":"$repo"},"created_at":"$at","payload":{"action":"started"}}"""
  private def pushAt(user: String, repo: String, msg: String, sha: String,
      at: String) =
    s"""{"type":"PushEvent","actor":{"login":"$user"},"repo":{"name":"$repo"},"created_at":"$at","payload":{"commits":[{"sha":"$sha","message":"$msg"}]}}"""
  private def commentAt(user: String, repo: String, body: String, at: String) =
    s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"$repo"},"created_at":"$at","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"$body","author_association":"NONE"}}}"""

  /** Richer corpus: 3 repos; org/popular gets 6 watchers + a dask commit by
    * a human and one by a bot; dask/dask is popular but excluded by prefix;
    * org/quiet has too few watches.
    */
  private def corpus: Seq[String] = {
    def watch(user: String, repo: String, h: Int) =
      watchAt(user, repo, s"2024-02-29T0$h:00:00Z")
    def push(user: String, repo: String, msg: String, sha: String) =
      pushAt(user, repo, msg, sha, "2024-02-29T04:00:00Z")
    def comment(user: String, repo: String, body: String) =
      commentAt(user, repo, body, "2024-02-29T05:00:00Z")
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

  private def commentLine(user: String, h: Int) =
    s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"b","author_association":"NONE"}}}"""

  /** A fresh directory with an empty `landing/` (store and views beside). */
  private def tmp(prefix: String): String = {
    val dir = tmpDir(prefix)
    Files.createDirectories(Paths.get(s"$dir/landing"))
    dir
  }

  private def land(dir: String, h: Int, lines: Seq[String]): String = {
    val f = s"$dir/landing/2024-02-29-$h.json"
    Files.write(Paths.get(f), lines.mkString("\n").getBytes)
    f
  }

  /** Land `lines` as the GH-Archive file of the hour starting at `hour`. */
  private def landAt(dir: String, hour: String, lines: Seq[String]): Unit =
    Files.write(Paths.get(
      s"$dir/landing/${GhaPipeline.hourStem(Instant.parse(hour))}.json"),
      lines.mkString("\n").getBytes)

  /** One hourly tick at `now` over `dir`'s landing, store and views. */
  private def tickFrom(dir: String, now: String,
      backfill: String): Seq[String] =
    GhaPipeline.incrementalRunWithViews(spark, s"$dir/landing",
      s"$dir/store", s"$dir/mv", Instant.parse(now), Instant.parse(backfill))

  private def tick(dir: String, now: String): Seq[String] =
    tickFrom(dir, now, "2024-02-29T01:00:00Z")

  private def comments(dir: String): Seq[String] =
    TableStore.read(spark, s"$dir/store/comment")
      .select("username").as[String].collect().toSeq.sorted

  test("workflow: ingest → compact → query_data matches golden results") {
    val dir = tmp("gha_e2e")
    land(dir, 1, corpus)
    assert(tick(dir, "2024-02-29T03:10:00Z").size === 1)

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
    // a closing tick: the batch's last hour opens 2024-03-01, so the
    // corpus's date, 2024-02-29, compacts in it
    val dir = tmp("gha_desc")
    landAt(dir, "2024-02-29T23:00:00Z", corpus)
    landAt(dir, "2024-03-01T00:00:00Z", Nil)
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
      assert(tickFrom(dir, "2024-03-01T01:10:00Z",
        "2024-02-29T23:00:00Z").size === 2)
      org.apache.spark.graft.CoreBridge.drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    import scala.jdk.CollectionConverters._
    val jobs = seen.asScala.toSeq
    val described = jobs.collect { case (d, g) if d != null => (d, g) }
    // every table appends; only the tables with rows have a closed date to
    // compact (the corpus holds watches, pushes and comments). The view
    // folds run in the appends' fan-out, the result overwrites in the
    // compactions'.
    for (t <- graft.schema.GhaSchemas.tableNames)
      assert(described.exists(_._1 == s"tick:append:$t"), s"append of $t")
    for (v <- Seq("repo_counts", "kw_commits", "kw_comments"))
      assert(described.exists(_._1 == s"tick:append:$v"), s"fold of $v")
    for (t <- Seq("watch", "commit", "comment"))
      assert(described.exists(_._1 == s"tick:compact:$t"), s"compact of $t")
    for (r <- Seq("commits", "comments"))
      assert(described.exists(_._1 == s"tick:compact:results/$r"),
        s"publish of results/$r")
    assert(described.filter(_._1.startsWith("tick:")).forall(
      _._2 == "serve-tick"), s"fan-out jobs lost the job group: $described")
  }

  test("watermark-driven resume ingests only new hours (§3.1 parity)") {
    val dir = tmp("gha_wm")
    land(dir, 1, Seq(commentLine("u1", 1)))
    land(dir, 2, Seq(commentLine("u2", 2)))

    // now = 04:10 -> stop = 03:00 floor minus 1h lag = hours 1..3 eligible
    val run1 = tick(dir, "2024-02-29T04:10:00Z")
    assert(run1.map(_.split('/').last).sorted ===
      Seq("2024-02-29-1.json", "2024-02-29-2.json"))

    // caught up: watermark 02:30 -> start 03:00; no 03:00 file yet
    assert(tick(dir, "2024-02-29T04:10:00Z").isEmpty)

    // hour 3 lands + clock advances -> ONLY hour 3 is ingested
    land(dir, 3, Seq(commentLine("u3", 3)))
    val run3 = tick(dir, "2024-02-29T05:10:00Z")
    assert(run3.map(_.split('/').last) === Seq("2024-02-29-3.json"))
    assert(TableStore.read(spark, s"$dir/store/comment").count() === 3)
  }

  test("a missing middle hour halts the batch; the late file is never skipped") {
    val dir = tmp("gha_gap")
    // hours 1 and 3 landed, hour 2 late: the tick must stop AT the gap —
    // ingesting hour 3 would advance the hwm past hour 2 and lose it forever
    land(dir, 1, Seq(commentLine("u1", 1)))
    land(dir, 3, Seq(commentLine("u3", 3)))
    val run1 = tick(dir, "2024-02-29T05:10:00Z")
    assert(run1.map(_.split('/').last) === Seq("2024-02-29-1.json"))
    // hour 2 publishes late; the next tick picks up 2 AND the waiting 3
    land(dir, 2, Seq(commentLine("u2", 2)))
    val run2 = tick(dir, "2024-02-29T05:10:00Z")
    assert(run2.map(_.split('/').last) ===
      Seq("2024-02-29-2.json", "2024-02-29-3.json"))
    assert(TableStore.read(spark, s"$dir/store/comment").count() === 3)
  }

  test("crash mid-batch: inflight marker rolls back half-written hours (T4)") {
    val dir = tmp("gha_crash")
    land(dir, 1, Seq(commentLine("u1", 1)))

    // clean run through hour 1 (stop = floor(02:10) - 1h = hour 1 only)
    tick(dir, "2024-02-29T02:10:00Z")
    assert(comments(dir) === Seq("u1"))

    // a run that appended hour 2 but DIED before advancing the hwm: data
    // is in, inflight marker is still there
    land(dir, 2, Seq(commentLine("u2", 2)))
    GhaPipeline.chaosHook = p =>
      if (p == "post-ingest") throw new RuntimeException("chaos kill")
    try intercept[RuntimeException](tick(dir, "2024-02-29T03:10:00Z"))
    finally GhaPipeline.chaosHook = _ => ()
    assert(Files.exists(Paths.get(s"$dir/store/_ingest_inflight")))
    assert(comments(dir) === Seq("u1", "u2"))

    // next tick: recovery rolls hour 2 back, then re-ingests it exactly once
    assert(tick(dir, "2024-02-29T04:10:00Z").size === 1)
    assert(comments(dir) === Seq("u1", "u2")) // no duplicate u2
  }

  test("crash after commit, before marker cleanup: no rollback, no re-ingest") {
    val dir = tmp("gha_crash2")
    land(dir, 1, Seq(commentLine("u1", 1)))
    tick(dir, "2024-02-29T03:10:00Z")
    land(dir, 2, Seq(commentLine("u2", 2)))
    // the tick dies after the hwm names hour 2, before the marker clears
    GhaPipeline.chaosHook = p =>
      if (p == "post-hwm") throw new RuntimeException("chaos kill")
    try intercept[RuntimeException](tick(dir, "2024-02-29T04:10:00Z"))
    finally GhaPipeline.chaosHook = _ => ()
    assert(Files.exists(Paths.get(s"$dir/store/_ingest_inflight")))
    // the stale marker for hour 2 must be a no-op
    assert(tick(dir, "2024-02-29T04:10:00Z").isEmpty) // no re-ingest
    // a rollback would have removed u2 for good: the hwm is past hour 2
    assert(comments(dir) === Seq("u1", "u2"))
    assert(!Files.exists(Paths.get(s"$dir/store/_ingest_inflight")))
  }

  test("corrupt inflight marker fails actionably, naming the marker path") {
    val dir = tmp("gha_badmark")
    Files.createDirectories(Paths.get(s"$dir/store"))
    for (bad <- Seq("not-a-range", "a|b|c", "2024-02-29T01:00:00Z|garbage")) {
      Files.write(Paths.get(s"$dir/store/_ingest_inflight"), bad.getBytes)
      val e = intercept[java.io.IOException] {
        tick(dir, "2024-02-29T03:10:00Z")
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
    val dir = tmp("gha_inc")
    val f = land(dir, 1, corpus)
    GhaPipeline.ingestWith(spark, Seq(f), s"$dir/store")(_ => Nil)
    val n1 = TableStore.read(spark, s"$dir/store/commit").count()
    GhaPipeline.ingestWith(spark, Seq(f), s"$dir/store")(_ => Nil)
    assert(TableStore.read(spark, s"$dir/store/commit").count() === 2 * n1)
  }

  // ---- the close rule: a date compacts once, in the tick that closes it --

  /** Parquet files per curated table in date partition `date`. */
  private def filesIn(dir: String, date: String): Map[String, Int] =
    graft.schema.GhaSchemas.tableNames.map(t => t ->
      TickFiles.fileSets(spark, s"$dir/store/$t", date).values.sum).toMap

  /** The served result tables equal the full-history recompute, in order,
    * and each is one file; returns the number of result rows.
    */
  private def resultsMatchRecompute(dir: String): Long = {
    val (commits, comments) = Recompute.queryData(spark, s"$dir/store")
    Seq("commits" -> commits, "comments" -> comments).map { case (n, want) =>
      val path = s"$dir/store/results/$n"
      val got = spark.read.schema(want.schema).parquet(path).collect().toSeq
      assert(got === want.collect().toSeq, s"results/$n")
      val files = new java.io.File(path).list().count(_.startsWith("part-"))
      assert(files <= 1, s"results/$n is $files files")
      got.size.toLong
    }.sum
  }

  /** The chaos points one tick fired. */
  private def firing(run: => Unit): Seq[String] = {
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[String]
    GhaPipeline.chaosHook = name => fired.add(name)
    try run finally GhaPipeline.chaosHook = _ => ()
    import scala.jdk.CollectionConverters._
    fired.asScala.toSeq
  }

  private val compactPoints =
    graft.schema.GhaSchemas.tableNames.map(t => s"post-compact:$t")

  test("ticks at 22:00, 23:00 and 00:00 compact the closed date once, at " +
    "midnight; the results equal the recompute after every tick") {
    val dir = tmp("gha_close")
    val hours = Seq(
      "2024-02-29T22:00:00Z" -> ((1 to 4).map(i =>
          watchAt(s"w$i", "org/popular", "2024-02-29T22:05:00Z")) ++ Seq(
        pushAt("alice", "org/popular", "use dask", "a1", "2024-02-29T22:10:00Z"),
        commentAt("frank", "org/popular", "try dask", "2024-02-29T22:20:00Z"))),
      "2024-02-29T23:00:00Z" -> Seq(
        watchAt("w5", "org/popular", "2024-02-29T23:05:00Z"),
        watchAt("w6", "org/popular", "2024-02-29T23:06:00Z"),
        pushAt("bob", "org/popular", "more dask", "b1", "2024-02-29T23:10:00Z")),
      "2024-03-01T00:00:00Z" -> Seq(
        watchAt("w7", "org/popular", "2024-03-01T00:05:00Z"),
        pushAt("carol", "org/popular", "try dask again", "c1",
          "2024-03-01T00:10:00Z"),
        commentAt("gina", "org/popular", "is dask ok", "2024-03-01T00:20:00Z")))
    val perTick = hours.map { case (h, lines) =>
      landAt(dir, h, lines)
      val fired = firing(assert(tickFrom(dir,
        Instant.parse(h).plusSeconds(7800).toString, hours.head._1).size === 1))
      (fired.filter(compactPoints.contains), resultsMatchRecompute(dir),
        filesIn(dir, "2024-02-29"))
    }
    assert(perTick.map(_._1.size) === Seq(0, 0, 6), "closing ticks")
    assert(perTick.map(_._2) === Seq(0L, 3L, 5L), "result rows per tick")
    // open through 23:00, one append per hour; then one file per table
    val closed = perTick.map(_._3)
    assert(closed.map(_("watch")) === Seq(1, 2, 1))
    assert(closed.map(_("commit")) === Seq(1, 2, 1))
    assert(closed.map(_("comment")) === Seq(1, 1, 1))
    assert(closed.last.filter(_._2 > 0).keySet === Set("watch", "commit", "comment"))
    assert(filesIn(dir, "2024-03-01").filter(_._2 > 0) ===
      Map("watch" -> 1, "commit" -> 1, "comment" -> 1))
    // the keyword views compact the closed date under the same rule
    for (v <- Seq("kw_commits", "kw_comments"))
      assert(TickFiles.fileSets(spark, s"$dir/mv/$v", "2024-02-29").size === 1, v)
  }

  test("an hour-0 batch whose rows all carry the previous date compacts " +
    "that date in the tick that writes it") {
    val dir = tmp("gha_boundary")
    // the first tick of the store: no hwm, so the touched date alone closes
    val late = "2024-02-29T23:59:30Z"
    landAt(dir, "2024-03-01T00:00:00Z",
      (1 to 6).map(i => watchAt(s"w$i", "org/popular", late)) ++ Seq(
        pushAt("alice", "org/popular", "use dask", "a1", late),
        commentAt("frank", "org/popular", "try dask", late)))
    val fired = firing(assert(tickFrom(dir, "2024-03-01T01:10:00Z",
      "2024-03-01T00:00:00Z").size === 1))
    assert(fired.filter(compactPoints.contains).sorted === compactPoints.sorted)
    assert(filesIn(dir, "2024-03-01").values.sum === 0)
    assert(filesIn(dir, "2024-02-29").filter(_._2 > 0) ===
      Map("watch" -> 1, "commit" -> 1, "comment" -> 1))
    assert(resultsMatchRecompute(dir) === 2L)
  }

  test("a crashed tick whose hour-0 file holds a previous-date row rolls " +
    "back exactly: each row is stored once and the results equal the " +
    "recompute") {
    for (kp <- Seq("post-ingest", "post-compact:comment")) {
      val dir = tmp("gha_rollback")
      val backfill = "2024-02-29T23:00:00Z"
      landAt(dir, backfill, (1 to 6).map(i =>
          watchAt(s"w$i", "org/popular", "2024-02-29T23:05:00Z")) :+
        commentAt("ada", "org/popular", "try dask", "2024-02-29T23:20:00Z"))
      assert(tickFrom(dir, "2024-03-01T00:10:00Z", backfill).size === 1)
      // the 00:00 file carries one comment from the previous date
      landAt(dir, "2024-03-01T00:00:00Z", Seq(
        commentAt("late", "org/popular", "use dask late", "2024-02-29T23:59:50Z"),
        commentAt("early", "org/popular", "use dask early", "2024-03-01T00:10:00Z")))
      GhaPipeline.chaosHook = p => if (p == kp) {
        GhaPipeline.chaosHook = _ => ()
        throw new RuntimeException(s"chaos kill @ $kp")
      }
      try intercept[RuntimeException](tickFrom(dir, "2024-03-01T01:10:00Z", backfill))
      finally GhaPipeline.chaosHook = _ => ()
      assert(tickFrom(dir, "2024-03-01T01:10:00Z", backfill).size === 1, kp)
      assert(comments(dir) === Seq("ada", "early", "late"), kp)
      assert(resultsMatchRecompute(dir) === 3L, kp)
    }
  }

  test("an empty hour at the boundary closes the date the previous tick " +
    "left open") {
    val dir = tmp("gha_tombstone")
    val backfill = "2024-02-29T22:00:00Z"
    for (h <- Seq(22, 23)) {
      landAt(dir, s"2024-02-29T$h:00:00Z", Seq(
        watchAt(s"w$h", "org/popular", s"2024-02-29T$h:05:00Z"),
        commentAt(s"u$h", "org/popular", "try dask", s"2024-02-29T$h:20:00Z")))
      assert(tickFrom(dir, s"2024-03-01T0${h - 22}:10:00Z", backfill).size === 1)
    }
    assert(filesIn(dir, "2024-02-29")("watch") === 2)
    // the tombstone an unpublished hour gets: the batch touches no date
    landAt(dir, "2024-03-01T00:00:00Z", Nil)
    val fired = firing(assert(
      tickFrom(dir, "2024-03-01T01:10:00Z", backfill).size === 1))
    assert(fired.filter(compactPoints.contains).sorted === compactPoints.sorted)
    assert(filesIn(dir, "2024-02-29").filter(_._2 > 0) ===
      Map("watch" -> 1, "comment" -> 1))
    assert(filesIn(dir, "2024-03-01").values.sum === 0)
    resultsMatchRecompute(dir)
  }

  test("a catch-up tick over three dates compacts the two older ones and " +
    "leaves the newest open") {
    val dir = tmp("gha_catchup")
    val first = Instant.parse("2024-02-28T23:00:00Z")
    def at(i: Int, minute: Int) =
      first.plusSeconds(3600L * i + 60L * minute).toString
    // 26 hours, 2024-02-28T23:00 to 2024-03-01T00:00; three carry rows
    val rows = Map(
      0 -> ((1 to 3).map(u => watchAt(s"w$u", "org/popular", at(0, u))) :+
        pushAt("alice", "org/popular", "use dask", "a1", at(0, 10))),
      13 -> ((4 to 6).map(u => watchAt(s"w$u", "org/popular", at(13, u))) :+
        commentAt("frank", "org/popular", "try dask", at(13, 20))),
      25 -> Seq(watchAt("w7", "org/popular", at(25, 5)),
        pushAt("bob", "org/popular", "more dask", "b1", at(25, 10))))
    for (i <- 0 until 26)
      landAt(dir, first.plusSeconds(3600L * i).toString, rows.getOrElse(i, Nil))
    assert(tickFrom(dir, "2024-03-01T01:10:00Z", first.toString).size === 26)
    val sets = Seq("2024-02-28", "2024-02-29", "2024-03-01").map(d =>
      TickFiles.fileSets(spark, s"$dir/store/watch", d))
    assert(sets.map(_.values.sum) === Seq(1, 1, 1))
    // one compaction wrote both closed dates; the open one keeps the append
    assert(sets(0).keySet === sets(1).keySet)
    assert(sets(0).keySet.intersect(sets(2).keySet).isEmpty)
    assert(resultsMatchRecompute(dir) === 3L)
  }
}
