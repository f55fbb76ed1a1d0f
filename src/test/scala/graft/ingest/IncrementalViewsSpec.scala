package graft.ingest

import java.nio.file.{Files, Paths}
import java.time.Instant
import org.apache.spark.sql.functions.countDistinct
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

  private def tmp(prefix: String): String = {
    val base = Paths.get("/root/repo/target/tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix).toString
  }

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

  /** [[GhaPipeline.queryData]] over the store's full history, in the
    * shape of [[collectResults]].
    */
  private def recompute(storeDir: String, keyword: String = " dask"): (Seq[(String, String, Long)], Seq[(String, String, Long)]) = {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("username", "repo", "count").as[(String, String, Long)]
        .collect().toSeq.sorted
    val (commits, comments) = GhaPipeline.queryData(spark, storeDir, keyword)
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
    val incDir = tmp("mv_inc")
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
    val dir = tmp("mv_rb")
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
    val dir = tmp("mv_adopt")
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
    val dir = tmp("mv_kw")
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

  test("distinct-watcher sketches union across ticks (sets, not sums)") {
    val dir = tmp("mv_hll")
    // overlapping user sets across two batches: a sum of per-batch
    // distincts would say 6; the sketch union must say 4
    val b1 = Seq(("r1", "a"), ("r1", "b"), ("r1", "c"), ("r2", "x"))
      .toDF("repo", "username")
    val b2 = Seq(("r1", "b"), ("r1", "c"), ("r1", "d"), ("r2", "x"))
      .toDF("repo", "username")
    IncrementalViews.maintainDistinctWatchers(spark, b1, dir)
    IncrementalViews.maintainDistinctWatchers(spark, b2, dir)
    val got = IncrementalViews.distinctWatchers(spark, dir)
      .as[(String, Double)].collect().toMap
    assert(math.round(got("r1")) === 4L, got.toString)
    assert(math.round(got("r2")) === 1L, got.toString)
  }

  test("pipeline-maintained sketches match exact distincts from the store") {
    val dir = tmp("mv_hll2")
    Files.createDirectories(Paths.get(s"$dir/landing"))
    val start = Instant.parse(s"${d}T01:00:00Z")
    for ((lines, h) <- Seq(tick1 -> 1, tick2 -> 2, tick3 -> 3)) {
      land(s"$dir/landing", d, h, lines)
      GhaPipeline.incrementalRunWithViews(spark, s"$dir/landing",
        s"$dir/store", s"$dir/mv", Instant.parse(s"${d}T0${h + 2}:00:00Z"), start)
    }
    val est = IncrementalViews.distinctWatchers(spark, s"$dir/mv")
      .as[(String, Double)].collect().toMap.view.mapValues(math.round).toMap
    val exact = TableStore.read(spark, s"$dir/store/watch")
      .groupBy("repo").agg(countDistinct("username").as("n"))
      .as[(String, Long)].collect().toMap
    assert(est === exact.view.mapValues(identity).toMap, s"est=$est exact=$exact")
  }

  test("a crash between rollback and rebuild re-enters the rebuild (_mv_stale)") {
    val dir = tmp("mv_crash")
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

  test("quantile sketches fold across ticks: merged view tracks the all-history percentiles") {
    val dir = tmp("mv_kll")
    // 3 ticks × 4000 values per key; the merged view must answer p50/p90
    // over ALL 12000 values, not the last batch — within KLL's rank band
    val rnd = new scala.util.Random(7)
    def batch(tick: Int) = (1 to 4000).map { _ =>
      ("k" + (rnd.nextInt(2) + 1), rnd.nextDouble() * 100 + tick * 1000.0)
    }.toDF("key", "v") // tick offset shifts each batch's range
    val batches = (0 until 3).map(batch)
    batches.foreach(b =>
      IncrementalViews.maintainQuantileSketches(spark, b, dir, "key", "v"))
    val got = IncrementalViews.quantileView(spark, dir, Seq(0.5, 0.9))
      .as[(String, Seq[Double])].collect().toMap
    val all = batches.reduce(_ unionAll _)
    for (k <- Seq("k1", "k2")) {
      val exact = all.filter($"key" === k)
        .select(org.apache.spark.sql.functions
          .expr("percentile(v, array(0.45, 0.55, 0.85, 0.95))"))
        .as[Seq[Double]].head()
      assert(got(k)(0) >= exact(0) && got(k)(0) <= exact(1),
        s"$k p50=${got(k)(0)} outside [${exact(0)}, ${exact(1)}]")
      assert(got(k)(1) >= exact(2) && got(k)(1) <= exact(3),
        s"$k p90=${got(k)(1)} outside [${exact(2)}, ${exact(3)}]")
    }
    // the last batch alone lives in [2000, 2100]: an all-history p50 must
    // NOT (a last-batch-snapshot bug would put it there)
    assert(got("k1")(0) < 2000.0)
  }

  test("freq sketches fold across ticks: merged view bounds the all-history counts") {
    val dir = tmp("mv_freq")
    // 3 ticks; item "hot" appears 300x/tick under key k1, the long tail
    // is unique per tick — the merged view must see hot ≈ 900 all-history
    def batch(tick: Int) = (
      (1 to 300).map(_ => ("k1", "hot")) ++
      (1 to 200).map(i => ("k1", s"tail_${tick}_$i")) ++
      (1 to 100).map(_ => ("k2", "other"))).toDF("key", "item")
    val batches = (0 until 3).map(batch)
    batches.foreach(b =>
      IncrementalViews.maintainFreqSketches(spark, b, dir, "key", "item"))
    val top = IncrementalViews.freqView(spark, dir)
      .selectExpr("key", "explode(top) AS t")
      .selectExpr("key", "t.item", "t.lb", "t.ub")
      .as[(String, String, Long, Long)].collect()
    val hot = top.find(r => r._1 == "k1" && r._2 == "hot").get
    // bounds contain the true all-history count — NOT the last-batch 300
    assert(hot._3 <= 900 && 900 <= hot._4, s"hot bounds [${hot._3},${hot._4}]")
    assert(hot._3 > 300, "lower bound stuck at a single batch's count")
    val other = top.find(r => r._1 == "k2" && r._2 == "other").get
    assert(other._3 <= 300 && 300 <= other._4)
  }

  test("empty first micro-batches and pre-guard empty generations never " +
    "poison the KLL/freq/histogram views") {
    val dir = tmp("mv_guard")
    // (1) an empty first micro-batch is SKIPPED, not written as a
    // schema-only generation that would poison every later max(batch_id)
    val emptyKV = Seq.empty[(String, String)].toDF("key", "item")
    assert(!IncrementalViews.maintainFreqSketches(
      spark, emptyKV, dir, "key", "item", batchId = 0L))
    assert(TableStore.dataFiles(spark, s"$dir/freq_sketches").isEmpty)
    val emptyKD = Seq.empty[(String, Double)].toDF("key", "v")
    assert(!IncrementalViews.maintainQuantileSketches(
      spark, emptyKD, dir, "key", "v", batchId = 0L))
    assert(!IncrementalViews.maintainHistogram(
      spark, emptyKD, dir, "v", 0.0, 10.0, 4, batchId = 0L))
    // (2) a pre-guard schema-only generation already on disk makes
    // max(batch_id) NULL: folding over it must not NPE/crash-loop, and the
    // replay watermark must still engage afterwards
    TableStore.overwriteVersioned(
      Seq.empty[(String, Array[Byte], Long)].toDF("key", "sk", "batch_id"),
      s"$dir/freq_sketches")
    val b1 = Seq(("k1", "hot"), ("k1", "hot"), ("k2", "x")).toDF("key", "item")
    assert(IncrementalViews.maintainFreqSketches(
      spark, b1, dir, "key", "item", batchId = 1L))
    assert(!IncrementalViews.maintainFreqSketches(
      spark, b1, dir, "key", "item", batchId = 1L), "replay must skip")
    val hot = IncrementalViews.freqView(spark, dir)
      .selectExpr("key", "explode(top) AS t")
      .selectExpr("key", "t.item", "t.lb", "t.ub")
      .as[(String, String, Long, Long)].collect()
      .find(r => r._1 == "k1" && r._2 == "hot").get
    assert(hot._3 <= 2 && 2 <= hot._4, s"hot bounds [${hot._3},${hot._4}]")
    TableStore.overwriteVersioned(
      Seq.empty[(String, Array[Byte], Long)].toDF("key", "sk", "batch_id"),
      s"$dir/quantile_sketches")
    val q1 = Seq(("k", 1.0), ("k", 3.0)).toDF("key", "v")
    assert(IncrementalViews.maintainQuantileSketches(
      spark, q1, dir, "key", "v", batchId = 1L))
    assert(!IncrementalViews.maintainQuantileSketches(
      spark, q1, dir, "key", "v", batchId = 1L), "replay must skip")
    TableStore.overwriteVersioned(
      Seq.empty[(Int, Long, Long)].toDF("bucket", "n", "batch_id"),
      s"$dir/histogram")
    val h1 = Seq(("k", 1.0), ("k", 15.0)).toDF("key", "v")
    assert(IncrementalViews.maintainHistogram(
      spark, h1, dir, "v", 0.0, 10.0, 4, batchId = 1L))
    assert(!IncrementalViews.maintainHistogram(
      spark, h1, dir, "v", 0.0, 10.0, 4, batchId = 1L), "replay must skip")
  }

  test("counts view is a merged total, not a last-batch snapshot") {
    val dir = tmp("mv_cnt")
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
