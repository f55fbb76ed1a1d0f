package graft.ingest

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.SparkFixture

/** Fixture lines from FIXTURES.md §B — one per handled type plus the
  * adversarial set (corrupt JSON, unknown type, missing payload field,
  * pathological commit array, 'bot'-substring username).
  */
object Fixture {
  val good: Seq[String] = Seq(
    """{"type":"PushEvent","actor":{"login":"alice"},"repo":{"name":"org/proj"},"created_at":"2024-02-29T01:02:03Z","payload":{"commits":[{"sha":"c1","message":"use dask for x"},{"sha":"c2","message":"fix"}]}}""",
    """{"type":"CreateEvent","actor":{"login":"bob"},"repo":{"name":"org/proj"},"created_at":"2024-02-29T01:03:00Z","payload":{"ref_type":"branch","ref":"feat","description":null}}""",
    """{"type":"PullRequestEvent","actor":{"login":"carol"},"repo":{"name":"org/proj"},"created_at":"2024-02-29T01:04:00Z","payload":{"action":"opened","number":7,"pull_request":{"title":"Add thing","body":"b","created_at":"2024-02-29T01:00:00Z","user":{"login":"carol"}}}}""",
    """{"type":"IssueCommentEvent","actor":{"login":"dan"},"repo":{"name":"org/proj"},"created_at":"2024-02-29T01:05:00Z","payload":{"issue":{"number":3,"title":"Bug","created_at":"2024-02-28T09:00:00Z","user":{"login":"eve"}},"comment":{"body":"try dask","author_association":"MEMBER"}}}""",
    """{"type":"WatchEvent","actor":{"login":"eve"},"repo":{"name":"org/proj"},"created_at":"2024-02-29T01:06:00Z","payload":{"action":"started"}}""",
    """{"type":"ForkEvent","actor":{"login":"frank"},"repo":{"name":"org/proj"},"created_at":"2024-02-29T01:07:00Z","payload":{}}"""
  )
  val corrupt = """{"type": "PushEv"""                       // S3 skip
  val unknown = """{"type":"GollumEvent","actor":{"login":"g"},"repo":{"name":"r"},"created_at":"2024-02-29T01:08:00Z","payload":{}}"""
  val pushNoCommits = """{"type":"PushEvent","actor":{"login":"z"},"repo":{"name":"r"},"created_at":"2024-02-29T01:09:00Z","payload":{}}"""
  val botSubstring = """{"type":"PushEvent","actor":{"login":"robotics-dev"},"repo":{"name":"org/bots"},"created_at":"2024-02-29T02:00:00Z","payload":{"commits":[{"sha":"c9","message":"dask mention"}]}}"""
  // valid JSON, garbage timestamp: must drop THIS row only, not the batch
  // (ANSI mode makes to_timestamp throw; the engine uses try_to_timestamp)
  val badTimestamp = """{"type":"PushEvent","actor":{"login":"tsbad"},"repo":{"name":"org/proj"},"created_at":"not-a-timestamp","payload":{"commits":[{"sha":"cx","message":"m"}]}}"""
  def bigPush(n: Int): String = {
    val cs = (1 to n).map(i => s"""{"sha":"s$i","message":"m$i"}""").mkString(",")
    s"""{"type":"PushEvent","actor":{"login":"bulk"},"repo":{"name":"org/big"},"created_at":"2024-02-29T03:00:00Z","payload":{"commits":[$cs]}}"""
  }
  def all: Seq[String] =
    good ++ Seq(corrupt, unknown, pushNoCommits, botSubstring, badTimestamp,
      bigPush(1000))
}

class ExtractSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  def lines(ls: Seq[String]): DataFrame = ls.toDF("value")
  lazy val raw = Extract.parseRaw(lines(Fixture.all)).cache()

  test("corrupt line is skipped and counted (S3)") {
    // parse skips exactly the one corrupt line and keeps everything else
    assert(raw.count() === Fixture.all.size - 1)
    assert(Extract.parseRaw(lines(Seq(Fixture.corrupt))).count() === 0)
  }

  test("unknown event type is dropped by dispatch (P1)") {
    val tables = Extract.all(raw)
    assert(tables.values.map(_.count()).sum > 0)
    val allUsers = tables.values
      .flatMap(_.select("username").as[String].collect()).toSet
    assert(!allUsers.contains("g"))
  }

  test("PushEvent explodes one row per commit (U2/G1)") {
    val c = Extract.commits(raw)
    // 2 (alice) + 1 (robotics-dev) + 1000 (bulk); pushNoCommits drops
    assert(c.count() === 1003)
    assert(c.filter($"username" === "alice").count() === 2)
    assert(c.filter($"username" === "bulk").count() === 1000)
  }

  test("missing payload field drops just that record (P4)") {
    val c = Extract.commits(raw)
    assert(c.filter($"username" === "z").count() === 0)
  }

  test("commit columns match the curated schema (§1.2)") {
    val c = Extract.commits(raw)
    assert(c.columns.toSeq ===
      Seq("username", "repo", "sha", "message", "created_at", "date"))
    val row = c.filter($"sha" === "c1").head()
    assert(row.getAs[String]("message") === "use dask for x")
    assert(row.getAs[java.sql.Timestamp]("created_at").toInstant.toString
      === "2024-02-29T01:02:03Z")
    assert(row.getAs[java.sql.Date]("date").toString === "2024-02-29")
  }

  test("pr handler plucks nested pull_request fields (P2)") {
    val p = Extract.prs(raw)
    val row = p.head()
    assert(row.getAs[String]("title") === "Add thing")
    assert(row.getAs[String]("author") === "carol")
    assert(row.getAs[Long]("number") === 7L)
  }

  test("comment handler plucks issue + comment subtrees") {
    val row = Extract.comments(raw).head()
    assert(row.getAs[String]("comment") === "try dask")
    assert(row.getAs[String]("association") === "MEMBER")
    assert(row.getAs[String]("author") === "eve")
    assert(row.getAs[Long]("number") === 3L)
  }

  test("watch and fork handlers") {
    assert(Extract.watches(raw).head().getAs[String]("action") === "started")
    assert(Extract.forks(raw).count() === 1)
  }

  test("watch with JSON-null action is KEPT (same policy as null comment)") {
    val nullAction =
      """{"type":"WatchEvent","actor":{"login":"nil"},"repo":{"name":"r"},"created_at":"2024-02-29T01:10:00Z","payload":{"action":null}}"""
    val w = Extract.watches(Extract.parseRaw(lines(Fixture.all :+ nullAction)))
    assert(w.filter($"username" === "nil").count() === 1)
    assert(w.filter($"username" === "nil").head().getAs[String]("action") == null)
  }

  test("garbage timestamp drops the row, not the batch (P4 under ANSI mode)") {
    val c = Extract.commits(raw)
    // the batch survived (other rows intact) and only tsbad is gone
    assert(c.filter($"username" === "tsbad").count() === 0)
    assert(c.filter($"username" === "alice").count() === 2)
  }

  test("'bot' matches as substring, not word (P5 semantics)") {
    val c = Extract.commits(raw)
    val nonBot = c.filter(!$"username".contains("bot"))
    assert(!nonBot.select("username").as[String].collect()
      .contains("robotics-dev"))
  }
}
