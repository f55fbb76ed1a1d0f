package graft.ingest

import java.nio.file.{Files, Paths}
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.store.TableStore

/** Incremental `query_data` maintenance: per-tick view folding must equal
  * the reference's full-history recompute, tick for tick.
  */
class IncrementalViewsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def watch(user: String, repo: String, d: String, h: Int) =
    s"""{"type":"WatchEvent","actor":{"login":"$user"},"repo":{"name":"$repo"},"created_at":"${d}T0$h:10:00Z","payload":{"action":"started"}}"""
  private def push(user: String, repo: String, msg: String, sha: String, d: String, h: Int) =
    s"""{"type":"PushEvent","actor":{"login":"$user"},"repo":{"name":"$repo"},"created_at":"${d}T0$h:20:00Z","payload":{"commits":[{"sha":"$sha","message":"$msg"}]}}"""
  private def comment(user: String, repo: String, body: String, d: String, h: Int) =
    s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"$repo"},"created_at":"${d}T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"${d}T01:00:00Z","user":{"login":"x"}},"comment":{"body":"$body","author_association":"NONE"}}}"""

  private def land(dir: String, d: String, h: Int, lines: Seq[String]): Unit =
    Files.write(Paths.get(s"$dir/$d-$h.json"), lines.mkString("\n").getBytes)

  private def collectResults(dir: String): (Seq[(String, String, Long)], Seq[(String, String, Long)]) = {
    val commits = TableStore.read(spark, s"$dir/results/commits")
      .select("username", "repo", "count").as[(String, String, Long)]
      .collect().toSeq.sorted
    val comments = TableStore.read(spark, s"$dir/results/comments")
      .select("username", "repo", "count").as[(String, String, Long)]
      .collect().toSeq.sorted
    (commits, comments)
  }

  /** [[Recompute.queryData]] over the store's full history, in the
    * shape of [[collectResults]].
    */
  private def recompute(storeDir: String, keyword: String = " dask"): (Seq[(String, String, Long)], Seq[(String, String, Long)]) = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("username", "repo", "count").as[(String, String, Long)]
        .collect().toSeq.sorted
    val (commits, comments) = Recompute.queryData(spark, storeDir, keyword)
    (rows(commits), rows(comments))
  }

  // Three ticks; org/late crosses the popularity threshold only on tick 3,
  // so its tick-1 commit must appear in tick-3 results — the case that
  // proves the popularity join can't be folded into the append-time filter.
  private val d = "2024-03-01"
  private val tick1 = Seq(
    watch("w1", "org/hot", d, 1), watch("w2", "org/hot", d, 1),
    watch("w3", "org/hot", d, 1), watch("w4", "org/hot", d, 1),
    watch("w5", "org/hot", d, 1), watch("w6", "org/hot", d, 1),
    watch("u1", "org/late", d, 1), watch("u2", "org/late", d, 1),
    push("alice", "org/hot", "adopt dask here", "a1", d, 1),
    push("zoe", "org/late", "try dask experiment", "z1", d, 1),
    comment("frank", "org/hot", "what about dask?", d, 1))
  private val tick2 = Seq(
    watch("u3", "org/late", d, 2), watch("u4", "org/late", d, 2),
    push("bot-deploy", "org/hot", "dask bump", "b2", d, 2),
    push("alice", "org/hot", "no keyword", "a2", d, 2))
  private val tick3 = Seq(
    watch("u5", "org/late", d, 3), watch("u6", "org/late", d, 3),
    comment("gina", "org/late", "yes dask works", d, 3))

  test("3 ticks of view maintenance ≡ full recompute, including late-crossing repos") {
    val incDir = tmpDir("mv_inc")
    Files.createDirectories(Paths.get(s"$incDir/landing"))
    val start = Instant.parse(s"${d}T01:00:00Z")
    for ((lines, h) <- Seq(tick1 -> 1, tick2 -> 2, tick3 -> 3)) {
      land(s"$incDir/landing", d, h, lines)
      val now = Instant.parse(s"${d}T0${h + 2}:00:00Z")
      val ingestedInc = GhaPipeline.incrementalRunWithViews(spark,
        s"$incDir/landing", s"$incDir/store", s"$incDir/mv", now, start)
      assert(ingestedInc.size == 1, s"tick $h")
      val (ci, mi) = collectResults(s"$incDir/store")
      val (cf, mf) = recompute(s"$incDir/store")
      assert(ci == cf, s"commits diverge at tick $h")
      assert(mi == mf, s"comments diverge at tick $h")
    }
    // tick-3 state: org/late has 6 watches → popular; zoe's TICK-1 commit
    // and gina's comment must both be present now
    val (commits, comments) = collectResults(s"$incDir/store")
    assert(commits.contains(("zoe", "org/late", 6L)))
    assert(commits.contains(("alice", "org/hot", 6L)))
    assert(!commits.exists(_._1 == "bot-deploy"))
    assert(comments.map(_._1).toSet == Set("frank", "gina"))
  }

  test("rebuild from the curated store equals the incrementally maintained views") {
    val dir = tmpDir("mv_rb")
    Files.createDirectories(Paths.get(s"$dir/landing"))
    val start = Instant.parse(s"${d}T01:00:00Z")
    for ((lines, h) <- Seq(tick1 -> 1, tick2 -> 2, tick3 -> 3)) {
      land(s"$dir/landing", d, h, lines)
      GhaPipeline.incrementalRunWithViews(spark, s"$dir/landing",
        s"$dir/store", s"$dir/mv", Instant.parse(s"${d}T0${h + 2}:00:00Z"), start)
    }
    val (c1, m1) = IncrementalViews.queryData(spark, s"$dir/mv") match {
      case (c, m) => (c.collect().toSeq, m.collect().toSeq)
    }
    IncrementalViews.rebuild(spark, s"$dir/store", s"$dir/mv")
    val (c2, m2) = IncrementalViews.queryData(spark, s"$dir/mv") match {
      case (c, m) => (c.collect().toSeq, m.collect().toSeq)
    }
    assert(c1 == c2 && m1 == m2)
  }

  test("views adopted over a store with history start from that history") {
    val dir = tmpDir("mv_adopt")
    Files.createDirectories(Paths.get(s"$dir/landing"))
    val start = Instant.parse(s"${d}T01:00:00Z")
    // hours 1-2 ingested with no views (curated appends plus the hwm)
    land(s"$dir/landing", d, 1, tick1)
    land(s"$dir/landing", d, 2, tick2)
    GhaPipeline.ingestWith(spark,
      Seq(s"$dir/landing/$d-1.json", s"$dir/landing/$d-2.json"),
      s"$dir/store")(_ => Nil)
    Files.write(Paths.get(s"$dir/store/_ingest_hwm"),
      s"${d}T02:00:00Z".getBytes)
    // the first views tick, hour 3: org/late's six watches span all three
    // hours, so views that counted only this batch would drop zoe and alice
    land(s"$dir/landing", d, 3, tick3)
    assert(GhaPipeline.incrementalRunWithViews(spark, s"$dir/landing",
      s"$dir/store", s"$dir/mv", Instant.parse(s"${d}T05:00:00Z"),
      start).size === 1)
    val (commits, comments) = collectResults(s"$dir/store")
    assert((commits, comments) == recompute(s"$dir/store"))
    assert(commits.toSet == Set(("alice", "org/hot", 6L),
      ("zoe", "org/late", 6L)), commits.toString)
    assert(!Files.exists(Paths.get(s"$dir/mv/_mv_stale")))
  }

  test("a tick with another keyword rebuilds the views for that keyword") {
    val dir = tmpDir("mv_kw")
    Files.createDirectories(Paths.get(s"$dir/landing"))
    val start = Instant.parse(s"${d}T01:00:00Z")
    def tick(h: Int, keyword: String) =
      GhaPipeline.incrementalRunWithViews(spark, s"$dir/landing",
        s"$dir/store", s"$dir/mv", Instant.parse(s"${d}T0${h + 2}:00:00Z"),
        start, keyword)
    land(s"$dir/landing", d, 1, tick1)
    land(s"$dir/landing", d, 2, tick2)
    assert(tick(2, " dask").size === 2)
    // restarted with " here": zoe's "try dask experiment" must drop out,
    // alice's "adopt dask here" stays
    land(s"$dir/landing", d, 3, tick3)
    assert(tick(3, " here").size === 1)
    val (commits, comments) = collectResults(s"$dir/store")
    assert((commits, comments) == recompute(s"$dir/store", " here"))
    assert(commits == Seq(("alice", "org/hot", 6L)), commits.toString)
  }

  /** Three " dask" ticks, one with a " fix" commit in a popular repo;
    * returns the tick function for the same store.
    */
  private def threeDaskTicks(dir: String): String => Seq[String] = {
    Files.createDirectories(Paths.get(s"$dir/landing"))
    val start = Instant.parse(s"${d}T01:00:00Z")
    def tick(h: Int, keyword: String) =
      GhaPipeline.incrementalRunWithViews(spark, s"$dir/landing",
        s"$dir/store", s"$dir/mv", Instant.parse(s"${d}T0${h + 2}:00:00Z"),
        start, keyword)
    land(s"$dir/landing", d, 1,
      tick1 :+ push("carl", "org/hot", "a quick fix", "c1", d, 1))
    land(s"$dir/landing", d, 2, tick2)
    land(s"$dir/landing", d, 3, tick3)
    assert(tick(3, " dask").size === 3)
    assert(collectResults(s"$dir/store")._1.map(_._1).toSet ===
      Set("alice", "zoe"))
    keyword => tick(3, keyword)
  }

  test("a keyword change with no new hour republishes the results for " +
    "the new keyword") {
    val dir = tmpDir("mv_kw_idle")
    val tick = threeDaskTicks(dir)
    // restarted with " fix" and nothing new landed: the tick ingests
    // nothing, yet the results must be " fix"'s, not the old " dask" rows
    assert(tick(" fix").isEmpty)
    val (commits, comments) = collectResults(s"$dir/store")
    assert((commits, comments) == recompute(s"$dir/store", " fix"))
    assert(commits == Seq(("carl", "org/hot", 6L)), commits.toString)
    assert(!Files.exists(Paths.get(s"$dir/mv/_mv_stale")))
  }

  test("a kill while the rebuilt views publish leaves the rebuild pending; " +
    "the next tick serves the same rows") {
    val dir = tmpDir("mv_kw_kill")
    val tick = threeDaskTicks(dir)
    GhaPipeline.chaosHook = name =>
      if (name == "post-result:commits") {
        GhaPipeline.chaosHook = _ => () // one-shot
        throw new RuntimeException("chaos kill @ post-result:commits")
      }
    val died =
      try { tick(" fix"); false }
      catch { case e: RuntimeException if e.getMessage.contains("chaos") =>
        true }
      finally GhaPipeline.chaosHook = _ => ()
    assert(died, "the rebuild's publish never fired post-result:commits")
    assert(Files.exists(Paths.get(s"$dir/mv/_mv_stale")),
      "a publish that died must leave the rebuild pending")
    assert(tick(" fix").isEmpty)
    val (commits, comments) = collectResults(s"$dir/store")
    assert((commits, comments) == recompute(s"$dir/store", " fix"))
    assert(commits == Seq(("carl", "org/hot", 6L)), commits.toString)
    assert(!Files.exists(Paths.get(s"$dir/mv/_mv_stale")))
  }

  test("a crash between rollback and rebuild re-enters the rebuild (_mv_stale)") {
    val dir = tmpDir("mv_crash")
    Files.createDirectories(Paths.get(s"$dir/landing"))
    val start = Instant.parse(s"${d}T01:00:00Z")
    land(s"$dir/landing", d, 1, tick1)
    GhaPipeline.incrementalRunWithViews(spark, s"$dir/landing",
      s"$dir/store", s"$dir/mv", Instant.parse(s"${d}T03:00:00Z"), start)
    // simulate the torn state: a previous tick rolled the store back and
    // died after deleting _ingest_inflight but before the rebuild — the
    // views are diverged (corrupted here) and only _mv_stale records it
    TableStore.overwriteVersioned(
      Seq(("org/bogus", 999L)).toDF("repo", "count"), s"$dir/mv/repo_counts")
    Files.write(Paths.get(s"$dir/mv/_mv_stale"), "rebuild-pending".getBytes)
    // next tick (nothing new landed) must rebuild from the store
    GhaPipeline.incrementalRunWithViews(spark, s"$dir/landing",
      s"$dir/store", s"$dir/mv", Instant.parse(s"${d}T03:00:00Z"), start)
    val counts = TableStore.read(spark, s"$dir/mv/repo_counts")
      .as[(String, Long)].collect().toMap
    assert(counts == Map("org/hot" -> 6L, "org/late" -> 2L), counts.toString)
    assert(!Files.exists(Paths.get(s"$dir/mv/_mv_stale")))
  }

  test("counts view is a merged total, not a last-batch snapshot") {
    val dir = tmpDir("mv_cnt")
    Files.createDirectories(Paths.get(s"$dir/landing"))
    val start = Instant.parse(s"${d}T01:00:00Z")
    for ((lines, h) <- Seq(tick1 -> 1, tick2 -> 2, tick3 -> 3)) {
      land(s"$dir/landing", d, h, lines)
      GhaPipeline.incrementalRunWithViews(spark, s"$dir/landing",
        s"$dir/store", s"$dir/mv", Instant.parse(s"${d}T0${h + 2}:00:00Z"), start)
    }
    val counts = TableStore.read(spark, s"$dir/mv/repo_counts")
      .as[(String, Long)].collect().toMap
    assert(counts == Map("org/hot" -> 6L, "org/late" -> 6L))
  }
}
