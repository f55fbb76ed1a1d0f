package graft.ingest

import java.nio.file.{Files, Paths}
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.store.TableStore

/** The continuous path run END TO END: the hourly serve daemon driving
  * incremental ingest + materialized-view maintenance across multiple ticks,
  * with a kill injected MID-TICK (curated appends and view folds landed, hwm
  * not advanced — the worst crash point: naive resume would double both).
  *
  * The individual pieces (marker rollback — GhaPipelineSpec; `_mv_stale`
  * rebuild — IncrementalViewsSpec; the serve loop — ServeSpec) are covered
  * separately; this spec is the composition the reference runs as one
  * Prefect deployment (`/root/reference/preprocess.py:258-266, 277-280`):
  * crash anywhere, restart, and the store, the views, and the served result
  * tables must all converge to exactly what a from-scratch batch run over
  * the same hours produces.
  */
class ContinuousPipelineSpec extends AnyFunSuite with SparkFixture {

  private def watchLine(user: String, h: Int) =
    s"""{"type":"WatchEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:10:00Z","payload":{"action":"started"}}"""
  private def pushLine(user: String, h: Int) =
    s"""{"type":"PushEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:20:00Z","payload":{"commits":[{"sha":"s$h","message":"use dask"}]}}"""
  private def commentLine(user: String, h: Int) =
    s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"try dask for this","author_association":"NONE"}}}"""

  private def land(dir: String, h: Int, lines: Seq[String]): Unit =
    Files.write(Paths.get(s"$dir/2024-02-29-$h.json"),
      lines.mkString("\n").getBytes)

  test("serve-driven multi-tick with a kill mid-tick: store, views and " +
      "results all converge to the batch truth") {
    val dir = tmpDir("cont_e2e")
    val (landing, store, mv) = (s"$dir/landing", s"$dir/store", s"$dir/mv")
    Files.createDirectories(Paths.get(landing))
    val backfill = Instant.parse("2024-02-29T01:00:00Z")

    // hour 1: 6 watches (crosses the >5 popularity threshold) + alice's
    // keyword commit + a keyword comment
    land(landing, 1, (1 to 6).map(i => watchLine(s"w$i", 1)) ++
      Seq(pushLine("alice", 1), commentLine("ada", 1)))

    // ---- tick 1 (clean) via the serve loop --------------------------------
    var t = Instant.parse("2024-02-29T03:10:00Z")
    assert(Serve.loop(spark, landing, store, backfill, ticks = 1,
      now = () => t, sleeper = _ => (), mvDir = Some(mv)) === 1)

    // ---- kill mid-tick 2: hour 2's appends AND view folds are on disk,
    // the inflight marker is still up, the hwm never advanced ---------------
    land(landing, 2, Seq(watchLine("w7", 2), watchLine("w8", 2),
      pushLine("bob", 2)))
    GhaPipeline.chaosHook = p =>
      if (p == "post-ingest") throw new RuntimeException("chaos kill")
    try intercept[RuntimeException](GhaPipeline.incrementalRunWithViews(
      spark, landing, store, mv, t, backfill))
    finally GhaPipeline.chaosHook = _ => ()
    // dead: no hwm advance, no marker cleanup. The half-committed state is
    // visible (8 watches in curated, 8 in the counts view).
    assert(TableStore.read(spark, s"$store/watch",
      graft.schema.GhaSchemas.curated("watch")).count() === 8)

    // ---- restart: two more serve ticks; hour 3 lands during the sleep -----
    val n = Serve.loop(spark, landing, store, backfill, ticks = 2,
      now = () => t,
      sleeper = _ => {
        land(landing, 3, Seq(watchLine("w9", 3), pushLine("carol", 3)))
        t = Instant.parse("2024-02-29T04:10:00Z")
      },
      mvDir = Some(mv))
    // tick 1 of the restart re-ingests the rolled-back hour 2; tick 2 takes
    // hour 3
    assert(n === 2)

    // ---- store truth: every hour exactly once -----------------------------
    val spark2 = spark
    import spark2.implicits._
    val watch = TableStore.read(spark, s"$store/watch",
      graft.schema.GhaSchemas.curated("watch"))
    assert(watch.count() === 9) // 6 + 2 + 1, the crashed hour not doubled
    assert(watch.select("username").as[String].collect().toSet ===
      (1 to 9).map(i => s"w$i").toSet)

    // ---- served results == the batch recompute over the same store --------
    val (batchCommits, _) = Recompute.queryData(spark, store)
    val served = TableStore.read(spark, s"$store/results/commits")
      .select("username", "repo", "message", "count")
      .as[(String, String, String, Long)].collect().toSeq
    assert(served === batchCommits
      .as[(String, String, String, Long)].collect().toSeq)
    assert(served.map(r => (r._1, r._4)).toSet ===
      Set(("alice", 9L), ("bob", 9L), ("carol", 9L)))

    // ---- views == a from-scratch rebuild (the crash left no drift) --------
    val mvRebuilt = s"$dir/mv_rebuilt"
    IncrementalViews.rebuild(spark, store, mvRebuilt)
    def counts(d: String) = TableStore.read(spark, s"$d/repo_counts",
        new org.apache.spark.sql.types.StructType()
          .add("repo", "string").add("count", "long"))
      .as[(String, Long)].collect().toSet
    assert(counts(mv) === counts(mvRebuilt))
    assert(counts(mv) === Set(("r/x", 9L)))
  }
}
