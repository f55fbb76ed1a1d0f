package graft.ingest

import java.nio.file.{Files, Paths}
import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.store.TableStore

/** The hourly serve daemon (`workflow.serve(interval=1h)` parity,
  * `preprocess.py:277-280`): injected clock + sleeper drive simulated ticks
  * over a landing dir — no wall-clock waits in the test.
  */
class ServeSpec extends AnyFunSuite with SparkFixture {

  private def watchLine(user: String, h: Int) =
    s"""{"type":"WatchEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:10:00Z","payload":{"action":"started"}}"""
  private def pushLine(user: String, h: Int) =
    s"""{"type":"PushEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:20:00Z","payload":{"commits":[{"sha":"s$h","message":"use dask"}]}}"""
  private def commentLine(user: String, h: Int) =
    s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"b","author_association":"NONE"}}}"""

  test("delayMs targets the next hour boundary plus publish lag") {
    val now = Instant.parse("2024-02-29T10:17:00Z")
    // 43 min to 11:00 + 60s lag
    assert(Serve.delayMs(now, 0) === (43 * 60 + 60) * 1000L)
  }

  test("delayMs backs off exponentially on failures, capped at 1h") {
    val now = Instant.parse("2024-02-29T10:59:00Z")
    val base = Serve.delayMs(now, 0)
    assert(Serve.delayMs(now, 1) === base + 60000L)
    assert(Serve.delayMs(now, 2) === base + 120000L)
    assert(Serve.delayMs(now, 30) === base + 3600000L) // cap
  }

  test("two ticks: second tick ingests only the newly landed hour") {
    val dir = tmpDir("serve")
    Files.createDirectories(Paths.get(s"$dir/landing"))
    Files.write(Paths.get(s"$dir/landing/2024-02-29-1.json"),
      commentLine("u1", 1).getBytes)

    // tick 1 at 03:10 ingests hour 1; during the inter-tick sleep hour 2
    // lands and the clock advances; tick 2 ingests hour 2 only
    var t = Instant.parse("2024-02-29T03:10:00Z")
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val n = Serve.loop(spark, s"$dir/landing", s"$dir/store",
      Instant.parse("2024-02-29T01:00:00Z"), ticks = 2,
      now = () => t,
      sleeper = ms => {
        slept += ms
        Files.write(Paths.get(s"$dir/landing/2024-02-29-2.json"),
          commentLine("u2", 2).getBytes)
        t = Instant.parse("2024-02-29T04:10:00Z")
      })
    assert(n === 2) // one file per tick
    assert(slept.size === 1) // no sleep after the final tick
    assert(TableStore.read(spark, s"$dir/store/comment",
      graft.schema.GhaSchemas.curated("comment")).count() === 2)
  }

  test("mvDir ticks maintain the views and serve results from them") {
    val dir = tmpDir("serve_mv")
    Files.createDirectories(Paths.get(s"$dir/landing"))
    Files.write(Paths.get(s"$dir/landing/2024-02-29-1.json"),
      ((1 to 6).map(i => watchLine(s"w$i", 1)) :+ pushLine("alice", 1))
        .mkString("\n").getBytes)
    var t = Instant.parse("2024-02-29T03:10:00Z")
    val n = Serve.loop(spark, s"$dir/landing", s"$dir/store",
      Instant.parse("2024-02-29T01:00:00Z"), ticks = 2,
      now = () => t,
      sleeper = _ => {
        Files.write(Paths.get(s"$dir/landing/2024-02-29-2.json"),
          pushLine("bob", 2).getBytes)
        t = Instant.parse("2024-02-29T04:10:00Z")
      },
      mvDir = Some(s"$dir/mv"))
    assert(n === 2)
    // results came from the views: both ticks' commits visible, counts from
    // the merged totals (6 watches), and the views dir actually exists
    assert(Files.exists(Paths.get(s"$dir/mv/repo_counts")))
    val spark2 = spark
    import spark2.implicits._
    val commits = TableStore.read(spark, s"$dir/store/results/commits")
      .select("username", "count").as[(String, Long)].collect().toSet
    assert(commits === Set(("alice", 6L), ("bob", 6L)))
  }

  test("without mvDir the views live under the store and results equal " +
    "the full recompute") {
    val dir = tmpDir("serve_main")
    Files.createDirectories(Paths.get(s"$dir/landing"))
    Files.write(Paths.get(s"$dir/landing/2024-02-29-1.json"),
      ((1 to 6).map(i => watchLine(s"w$i", 1)) :+ pushLine("alice", 1))
        .mkString("\n").getBytes)
    var t = Instant.parse("2024-02-29T03:10:00Z")
    // Serve.main's call: no mvDir
    val n = Serve.loop(spark, s"$dir/landing", s"$dir/store",
      Instant.parse("2024-02-29T01:00:00Z"), ticks = 2,
      now = () => t,
      sleeper = _ => {
        Files.write(Paths.get(s"$dir/landing/2024-02-29-2.json"),
          (pushLine("bob", 2) +: (7 to 8).map(i => watchLine(s"w$i", 2)))
            .mkString("\n").getBytes)
        t = Instant.parse("2024-02-29T04:10:00Z")
      })
    assert(n === 2)
    assert(Files.exists(Paths.get(s"$dir/store/mv/repo_counts")))
    val spark2 = spark
    import spark2.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("username", "repo", "message", "count")
        .as[(String, String, String, Long)].collect().toSeq.sorted
    val (commits, comments) = Recompute.queryData(spark, s"$dir/store")
    val served = rows(TableStore.read(spark, s"$dir/store/results/commits"))
    assert(served === rows(commits))
    assert(served.map(r => (r._1, r._4)) === Seq(("alice", 8L), ("bob", 8L)))
    assert(TableStore.read(spark, s"$dir/store/results/comments").count() ===
      comments.count())
  }

  test("a failing tick is absorbed; failure count feeds the backoff") {
    val dir = tmpDir("serve_f")
    // landingDir path exists but store root is an unwritable file -> the
    // tick throws; the loop must survive both ticks
    Files.createDirectories(Paths.get(s"$dir/landing"))
    Files.write(Paths.get(s"$dir/landing/2024-02-29-1.json"),
      "not json but present".getBytes)
    Files.write(Paths.get(s"$dir/store"), "a file, not a dir".getBytes)
    val slept = scala.collection.mutable.ArrayBuffer[Long]()
    val n = Serve.loop(spark, s"$dir/landing", s"$dir/store",
      Instant.parse("2024-02-29T01:00:00Z"), ticks = 2,
      now = () => Instant.parse("2024-02-29T03:10:00Z"),
      sleeper = ms => slept += ms)
    assert(n === 0)
    // backoff applied: sleep after failed tick exceeds the plain boundary wait
    assert(slept.size === 1)
    assert(slept.head > Serve.delayMs(Instant.parse("2024-02-29T03:10:00Z"), 0))
  }
}
