package etlbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.Instant

/** Seeded GH-Archive hour generator plus a plain-Scala oracle for the two
  * `query_data` result tables.
  *
  * The generator keeps every event it writes as a Scala value, so the
  * oracle never parses the NDJSON: it applies the reference's extraction
  * and filter rules to the generated values directly. Spark only ever sees
  * the files.
  */
object Gha {

  /** One commit of a PushEvent. */
  final case class Commit(sha: String, message: String)

  /** The fields the curated tables consume; `None` marks a field the
    * line omits on purpose (an adversarial row the extractor must drop).
    */
  final case class Event(tpe: String, login: String, repo: String,
      createdAt: String, commits: Option[Seq[Commit]] = None,
      comment: Option[String] = None, issueCreatedAt: Option[String] = None,
      malformed: Boolean = false)

  final case class Hour(start: Instant, events: Seq[Event], file: Path,
      bytes: Long)

  val keyword = " dask"
  val minWatches = 5L

  private val words = Vector("fix", "add", "update", "refactor", "parser",
    "tests", "docs", "cache", "scheduler", "worker", "bump", "deps", "api",
    "config", "release", "notes", "typo", "logging", "retry", "memory")

  /** Keyword-bearing phrases. Only the ones with a space before "dask"
    * (after lower-casing) match the reference's `" dask"` test.
    */
  private val hits = Vector("use dask for the etl step", "port to Dask",
    "migrate to DASK arrays", "try dask.delayed here", "dask-free path",
    "daskboard rename", "drop the dask/distributed pin")

  private def pick[T](r: java.util.Random, v: IndexedSeq[T]): T =
    v(r.nextInt(v.size))

  private def sentence(r: java.util.Random, hitRate: Double): String =
    if (r.nextDouble() < hitRate) {
      val h = pick(r, hits)
      if (r.nextBoolean()) s"${pick(r, words)} $h" else h
    } else Seq.fill(2 + r.nextInt(5))(pick(r, words)).mkString(" ")

  /** Repos ranked 0..n-1 and drawn with Zipf(1.1) weights, so a few repos
    * collect most watches and the `minWatches` cut splits them. The
    * `dask/` repos test the reference's prefix-only self-exclusion.
    */
  private final class Repos(n: Int) {
    val names: Vector[String] = Vector.tabulate(n) {
      case 0 => "dask/dask"
      case 3 => "dask/distributed"
      case 5 => "notdask/tools"
      case i => s"org${i % 37}/proj$i"
    }
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, 1.1))
      val s = w.sum
      w.scanLeft(0.0)(_ + _ / s).tail
    }
    def draw(r: java.util.Random): String = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      names(math.min(n - 1, if (i >= 0) i else -i - 1))
    }
  }

  private val users: Vector[String] =
    Vector.tabulate(1500)(i => s"user$i") ++
      Vector("ci-bot", "dependabot", "robotics-dev", "botanist", "lint-bot")

  /** Share of each kind of line in a generated hour. The shares, like the
    * Zipf(1.1) repo skew over 400 repos and the 1,500 users above, are
    * chosen by hand, not measured from GH Archive: pushes lead, every type
    * the pipeline curates is present, and 1 % of lines are broken. Most of
    * a tick's cost is fixed per tick; etlbench/README.md gives the measured
    * effect of a push-heavier mix.
    * `PushEvent/empty` is a push without `commits`; `malformed` is a
    * truncated push line.
    */
  val mix: Seq[(String, Double)] = Seq(
    "PushEvent" -> 0.42, "PushEvent/empty" -> 0.005, "WatchEvent" -> 0.155,
    "CreateEvent" -> 0.11, "PullRequestEvent" -> 0.08,
    "IssueCommentEvent" -> 0.125, "ForkEvent" -> 0.06,
    "GollumEvent" -> 0.035, "malformed" -> 0.01)

  /** One hour of events. Every hour uses its own random stream derived
    * from (seed, hour index), so history and new hours are independent of
    * how many hours a run generates.
    */
  def hourEvents(seed: Long, idx: Int, start: Instant, n: Int): Seq[Event] = {
    val r = new java.util.Random(seed * 1000003L + idx)
    val repos = new Repos(400)
    val cdf = mix.map(_._2).scanLeft(0.0)(_ + _).tail.toArray
    def kind(u: Double): String = {
      val i = cdf.indexWhere(u < _)
      mix(if (i < 0) mix.size - 1 else i)._1
    }
    Seq.fill(n) {
      val login = if (r.nextDouble() < 0.05) pick(r, users.takeRight(5))
        else pick(r, users)
      val repo = repos.draw(r)
      val ts = Gha.iso(start.plusSeconds(r.nextInt(3600)))
      kind(r.nextDouble()) match {
        case "PushEvent" =>
          // 2 % of pushes carry 40-99 commits, the explode fan-out case
          val k = if (r.nextDouble() < 0.02) 40 + r.nextInt(60)
            else 1 + r.nextInt(4)
          Event("PushEvent", login, repo, ts, commits = Some(Seq.tabulate(k)(
            j => Commit(f"${r.nextLong()}%016x$j%02x", sentence(r, 0.05)))))
        case "PushEvent/empty" => Event("PushEvent", login, repo, ts)
        case "IssueCommentEvent" => Event("IssueCommentEvent", login, repo, ts,
          comment = if (r.nextDouble() < 0.02) None
            else Some(sentence(r, 0.08)),
          issueCreatedAt =
            if (r.nextDouble() < 0.03) None
            else Some(Gha.iso(start.minusSeconds(r.nextInt(86400 * 30)))))
        case "malformed" => Event("PushEvent", login, repo, ts,
          commits = Some(Seq(Commit("bad", "use dask for the etl step"))),
          malformed = true)
        case tpe => Event(tpe, login, repo, ts)
      }
    }
  }

  private val isoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss'Z'").withZone(java.time.ZoneOffset.UTC)
  def iso(i: Instant): String = isoFmt.format(i)

  private def q(s: String): String = "\"" + s + "\""

  /** The NDJSON line for one event, in the FIXTURES.md section B shape. */
  def line(e: Event): String = {
    val payload = e.tpe match {
      case "PushEvent" => e.commits.fold("{}")(cs =>
        cs.map(c => s"""{"sha":${q(c.sha)},"message":${q(c.message)}}""")
          .mkString("""{"push_id":1,"commits":[""", ",", "]}"))
      case "WatchEvent" => """{"action":"started"}"""
      case "CreateEvent" =>
        """{"ref_type":"branch","ref":"feat","description":null}"""
      case "PullRequestEvent" =>
        s"""{"action":"opened","number":7,"pull_request":{"title":"Add x","body":"b","created_at":${q(e.createdAt)},"user":{"login":${q(e.login)}}}}"""
      case "IssueCommentEvent" =>
        val ica = e.issueCreatedAt.fold("")(t => s""","created_at":${q(t)}""")
        val body = e.comment.fold("null")(q)
        s"""{"action":"created","issue":{"number":3,"title":"Bug"$ica,"user":{"login":"eve"}},"comment":{"body":$body,"author_association":"MEMBER"}}"""
      case _ => "{}"
    }
    val full = s"""{"id":"1","type":${q(e.tpe)},"actor":{"login":${q(e.login)}},"repo":{"name":${q(e.repo)}},"created_at":${q(e.createdAt)},"payload":$payload}"""
    if (e.malformed) full.take(full.length / 2) else full
  }

  /** GH Archive stem: `YYYY-MM-DD-H` with an unpadded hour. */
  def stem(h: Instant): String = {
    val z = h.atZone(java.time.ZoneOffset.UTC)
    f"${z.getYear}%04d-${z.getMonthValue}%02d-${z.getDayOfMonth}%02d-${z.getHour}"
  }

  /** Write hours `0 until n` starting at `day0` into `landing`. */
  def land(seed: Long, landing: Path, day0: Instant, n: Int,
      eventsPerHour: Int): Seq[Hour] = {
    Files.createDirectories(landing)
    (0 until n).map { i =>
      val h = day0.plusSeconds(3600L * i)
      val evs = hourEvents(seed, i, h, eventsPerHour)
      val f = landing.resolve(stem(h) + ".json")
      val bytes = evs.iterator.map(line).mkString("", "\n", "\n")
        .getBytes(UTF_8)
      Files.write(f, bytes)
      Hour(h, evs, f, bytes.length.toLong)
    }
  }

  /** Expected `results/commits` and `results/comments` rows after the given
    * hours are ingested, as sorted `username|repo|text|count` strings.
    * Mirrors the extraction guards (a push without commits yields no rows,
    * a comment without `issue.created_at` is dropped, a malformed line is
    * skipped) and the `query_data` filters.
    */
  def expected(hours: Seq[Hour]): (Vector[String], Vector[String]) = {
    val evs = hours.flatMap(_.events).filterNot(_.malformed)
    val watches = evs.filter(_.tpe == "WatchEvent").groupBy(_.repo)
      .map { case (r, es) => r -> es.size.toLong }
    val popular = watches.filter(_._2 > minWatches)
    val kw = keyword.toLowerCase
    val prefix = keyword.trim + "/"
    def low(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val commits = for {
      e <- evs if e.tpe == "PushEvent"
      c <- e.commits.getOrElse(Nil)
      if !e.login.contains("bot") && low(c.message).contains(kw)
      if !e.repo.startsWith(prefix)
      n <- popular.get(e.repo)
    } yield s"${e.login}|${e.repo}|${c.message}|$n"
    val comments = for {
      e <- evs if e.tpe == "IssueCommentEvent" && e.issueCreatedAt.isDefined
      body <- e.comment if low(body).contains(kw)
      if !e.repo.startsWith(prefix)
      n <- popular.get(e.repo)
    } yield s"${e.login}|${e.repo}|$body|$n"
    (commits.sorted.toVector, comments.sorted.toVector)
  }
}
