package graft.ingest

import java.nio.file.{Files, Paths}
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.store.TableStore

/** Chaos sweep over the continuous pipeline (the round-7 verdict's item 6):
  * for EVERY named crash point inside a tick — after the inflight marker,
  * before the first fan-out, after each of the six curated-table appends
  * and each of the four view folds, after that fan-out, after each
  * table's compaction and each result overwrite, after the second
  * fan-out (`post-compact`, `post-results`), after the hwm — kill tick 2
  * of a 3-tick run at that point, resume, and prove the final store,
  * result tables, and views are CONTENT-IDENTICAL to a never-crashed
  * 3-tick run. One golden run, twenty-four deaths, twenty-four
  * equivalence proofs — the exactly-once claim as a sweep instead of a
  * single hand-picked crash (ContinuousPipelineSpec keeps the original
  * worst-point case).
  *
  * The per-task points fire on the concurrent fan-outs' threads; a third
  * test pins the fan-out's crash contract — a kill in one task surfaces
  * only after every sibling's write has finished.
  *
  * The kill is an exception thrown from `GhaPipeline.chaosHook`
  * (everything the process wrote up to that point stays on disk, exactly
  * like a kill -9 at that instruction); the injected clock makes each
  * tick's hour range deterministic.
  */
class ChaosPipelineSpec extends AnyFunSuite with SparkFixture {

  private def watchLine(user: String, h: Int) =
    s"""{"type":"WatchEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:10:00Z","payload":{"action":"started"}}"""
  private def pushLine(user: String, h: Int) =
    s"""{"type":"PushEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:20:00Z","payload":{"commits":[{"sha":"s$h","message":"use dask"}]}}"""
  private def commentLine(user: String, h: Int) =
    s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"try dask for this","author_association":"NONE"}}}"""

  private val hours: Seq[(Int, Seq[String])] = Seq(
    1 -> ((1 to 6).map(i => watchLine(s"w$i", 1)) ++
      Seq(pushLine("alice", 1), commentLine("ada", 1))),
    2 -> Seq(watchLine("w7", 2), watchLine("w8", 2), pushLine("bob", 2)),
    3 -> Seq(watchLine("w9", 3), pushLine("carol", 3), commentLine("eve", 3)))

  private val backfill = Instant.parse("2024-02-29T01:00:00Z")
  private def tickNow(h: Int): Instant =
    Instant.parse(f"2024-02-29T0${h + 2}%d:10:00Z")

  private def mkDirs(tag: String): (String, String, String) = {
    val base = Paths.get("/root/repo/target/tmp")
    Files.createDirectories(base)
    val dir = Files.createTempDirectory(base, s"chaos_$tag").toString
    val landing = s"$dir/landing"
    Files.createDirectories(Paths.get(landing))
    (landing, s"$dir/store", s"$dir/mv")
  }

  private def land(landing: String, h: Int): Unit =
    Files.write(Paths.get(s"$landing/2024-02-29-$h.json"),
      hours.find(_._1 == h).get._2.mkString("\n").getBytes)

  private def tick(landing: String, store: String, mv: String,
      h: Int): Seq[String] =
    GhaPipeline.incrementalRunWithViews(
      spark, landing, store, mv, tickNow(h), backfill)

  /** Everything observable, as sorted row strings — the content-identity
    * fingerprint (file names/UUIDs legitimately differ across runs).
    */
  private def fingerprint(store: String, mv: String): Map[String, Seq[String]] = {
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val curated = graft.schema.GhaSchemas.tableNames.map { t =>
      t -> rows(TableStore.read(spark, s"$store/$t",
        graft.schema.GhaSchemas.curated(t)))
    }.toMap
    curated ++ Map(
      "results/commits" -> rows(
        TableStore.read(spark, s"$store/results/commits")),
      "results/comments" -> rows(
        TableStore.read(spark, s"$store/results/comments")),
      "mv/repo_counts" -> rows(TableStore.read(spark, s"$mv/repo_counts",
        new org.apache.spark.sql.types.StructType()
          .add("repo", "string").add("count", "long"))))
  }

  private def resetHook(): Unit = GhaPipeline.chaosHook = _ => ()

  // golden: 3 clean ticks
  private lazy val golden: Map[String, Seq[String]] = {
    val (gl, gs, gm) = mkDirs("gold")
    for (h <- 1 to 3) { land(gl, h); assert(tick(gl, gs, gm, h).size === 1) }
    val g = fingerprint(gs, gm)
    assert(g("watch").size === 9, "fixture sanity")
    g
  }

  /** Run tick 1 clean, then tick 2 with `hook` armed (it must kill the
    * tick), run `check` on the dead store and views, resume tick 2 and
    * run tick 3, and compare everything with the golden run.
    */
  private def killAndResume(tag: String, hook: String => Unit,
      resumedHours: Int)(check: (String, String) => Unit): Unit = {
    val (l, s, m) = mkDirs(tag.replace(":", "_").replace("-", "_"))
    land(l, 1); assert(tick(l, s, m, 1).size === 1)
    land(l, 2)
    GhaPipeline.chaosHook = hook
    val died =
      try { tick(l, s, m, 2); false }
      catch { case e: RuntimeException if e.getMessage.contains("chaos") =>
        true }
      finally resetHook()
    assert(died, s"$tag never fired — a renamed hook point breaks the sweep")
    check(s, m)
    // resume: re-run tick 2 (recovery + re-ingest), then tick 3
    val resumed = tick(l, s, m, 2)
    assert(resumed.size === resumedHours,
      s"$tag: unexpected resume ingest count ${resumed.size}")
    land(l, 3); assert(tick(l, s, m, 3).size === 1)
    val got = fingerprint(s, m)
    for ((table, want) <- golden)
      assert(got(table) === want, s"$tag: $table diverged from the clean run")
  }

  private val tables = graft.schema.GhaSchemas.tableNames
  private val views = Seq("repo_counts", "watcher_sketches", "kw_commits",
    "kw_comments")
  /** The tasks of the two fan-outs, by their chaos points. */
  private val phaseA =
    tables.map(t => s"post-append:$t") ++ views.map(v => s"post-view:$v")
  private val phaseB = tables.map(t => s"post-compact:$t") ++
    Seq("commits", "comments").map(r => s"post-result:$r")
  private val killPoints = Seq("post-inflight-marker", "pre-views") ++
    phaseA ++ Seq("post-ingest") ++ phaseB ++
    Seq("post-compact", "post-results", "post-hwm")

  test("every chaos point fires once per tick, each fan-out's points " +
    "between the points that bracket it") {
    val (l, s, m) = mkDirs("order")
    land(l, 1); assert(tick(l, s, m, 1).size === 1)
    land(l, 2)
    val fired = new java.util.concurrent.ConcurrentLinkedQueue[String]
    GhaPipeline.chaosHook = name => fired.add(name)
    try assert(tick(l, s, m, 2).size === 1) finally resetHook()
    import scala.jdk.CollectionConverters._
    val order = fired.asScala.toSeq
    assert(order.sorted === killPoints.sorted)
    def at(p: String) = order.indexOf(p)
    for (p <- phaseA)
      assert(at("pre-views") < at(p) && at(p) < at("post-ingest"), p)
    for (p <- phaseB)
      assert(at("post-ingest") < at(p) && at(p) < at("post-compact"), p)
    assert(order.take(2) === Seq("post-inflight-marker", "pre-views"))
    assert(order.takeRight(3) === Seq("post-compact", "post-results", "post-hwm"))
  }

  test("kill tick 2 at EVERY chaos point: the resumed run is " +
    "content-identical to the never-crashed run") {
    for (kp <- killPoints)
      // post-hwm death already counted the hour; every earlier death re-runs it
      killAndResume(kp, name => if (name == kp) {
        resetHook() // one-shot: the resume must run clean
        throw new RuntimeException(s"chaos kill @ $kp")
      }, resumedHours = if (kp == "post-hwm") 0 else 1)((_, _) => ())
  }

  test("a kill in one table's append or compaction returns from the tick " +
    "only after every sibling table's write has finished") {
    // victims: a curated append and a view fold (phase A), a compaction
    // and a result overwrite (phase B)
    for ((victim, phase) <- Seq(phaseA.head -> phaseA,
        s"post-view:${views.head}" -> phaseA, phaseB.head -> phaseB,
        phaseB.last -> phaseB)) {
      val finished = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      // the victim dies at once; every sibling is still busy for a while
      // after its own write, so a fan-out that did not wait would return
      // before they record themselves
      killAndResume(victim, name =>
        if (name == victim) throw new RuntimeException(s"chaos kill @ $name")
        else if (phase.contains(name)) {
          Thread.sleep(300)
          finished.add(name)
        }, resumedHours = 1) { (store, mv) =>
        import scala.jdk.CollectionConverters._
        assert(finished.asScala.toSet === phase.filterNot(_ == victim).toSet,
          s"$victim: siblings still running when the tick returned: " +
            s"only $finished had finished")
        val f = new org.apache.hadoop.fs.Path(store)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        for (dir <- tables.map(t => s"$store/$t") ++ views.map(v => s"$mv/$v")) {
          val staging = new org.apache.hadoop.fs.Path(s"$dir/.staging")
          val inFlight = if (!f.exists(staging)) Nil
            else f.listStatus(staging).toSeq.map(_.getPath.getName)
              .filter(_.startsWith("append-"))
          assert(inFlight.isEmpty, s"$victim: $dir has staged appends $inFlight")
          assert(!f.exists(new org.apache.hadoop.fs.Path(
            s"$dir/compact_stage.tmp")),
            s"$victim: $dir has a compaction stage left")
        }
      }
    }
  }
}
