package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.schema.GhaSchemas

/** Pure `DataFrame => DataFrame` extraction: raw NDJSON lines → six curated
  * frames.
  *
  * The reference implements these as six per-record Python functions
  * dispatched row-at-a-time (`/root/reference/preprocess.py:40-140`). Here
  * each handler is a pure column projection over one `from_json` parse, so
  * Catalyst sees the whole pipeline: the JSON parse is shared, unused payload
  * branches are pruned per-handler, and everything stays inside
  * WholeStageCodegen — no UDFs, no row-at-a-time Scala.
  */
object Extract {

  /** S3/U3: per-line JSON parse with corrupt-record skip.
    * `from_json` yields null for malformed lines — the engine's analog of
    * `safe_json_loads` (`gha.ipynb:72-75`) and the skip-and-log loop
    * (`preprocess.py:125-128`). Input: one string column named `value`
    * (as produced by `spark.read.text`).
    */
  def parseRaw(lines: DataFrame): DataFrame =
    lines
      .select(from_json(col("value"), GhaSchemas.raw).as("e"))
      .filter(col("e").isNotNull && col("e.type").isNotNull)
      .select("e.*")

  // shared projections (preprocess.py:44-46 equivalents)
  private val username = col("actor.login").as("username")
  private val repo     = col("repo.name").as("repo")
  // try_to_timestamp, not to_timestamp: under ANSI mode a malformed
  // timestamp string in an otherwise-valid JSON line would throw and fail
  // the whole batch; try_* yields null so the nullGuard drops just that row
  // (the reference's per-record skip-and-log, preprocess.py:131-136).
  private val createdAt = try_to_timestamp(col("created_at")).as("created_at")
  /** `date` partition column (`preprocess.py:161`). */
  private val dateCol  = to_date(try_to_timestamp(col("created_at"))).as("date")

  private def ofType(df: DataFrame, t: String): DataFrame =
    df.filter(col("type") === t)

  /** P4: a record that would have crashed a reference handler (missing
    * required payload field) becomes a null under the declared schema and is
    * dropped here — column-level analog of `preprocess.py:131-136`.
    */
  private def nullGuard(df: DataFrame, required: String*): DataFrame =
    required.foldLeft(df)((d, c) => d.filter(col(c).isNotNull))

  /** U2/G1: PushEvent → one row per commit (`preprocess.py:40-48`).
    * The reference's generator-yield is Spark's `explode` Generator: the
    * fan-out happens inside codegen with no per-row closure.
    */
  def commits(raw: DataFrame): DataFrame = nullGuard(
    ofType(raw, "PushEvent")
      .select(username, repo, explode(col("payload.commits")).as("c"),
        createdAt, dateCol)
      .select(col("username"), col("repo"), col("c.sha").as("sha"),
        col("c.message").as("message"), col("created_at"), col("date")),
    "username", "repo", "sha", "created_at")

  /** CreateEvent handler (`preprocess.py:51-59`). */
  def creates(raw: DataFrame): DataFrame = nullGuard(
    ofType(raw, "CreateEvent").select(
      username, repo,
      col("payload.ref_type").as("type"),
      col("payload.ref").as("name"),
      col("payload.description").as("description"),
      createdAt, dateCol),
    "username", "repo", "type", "created_at")

  /** PullRequestEvent handler (`preprocess.py:62-75`). */
  def prs(raw: DataFrame): DataFrame = nullGuard(
    ofType(raw, "PullRequestEvent").select(
      username, repo,
      col("payload.action").as("action"),
      col("payload.number").as("number"),
      col("payload.pull_request.title").as("title"),
      col("payload.pull_request.user.login").as("author"),
      col("payload.pull_request.body").as("body"),
      try_to_timestamp(col("payload.pull_request.created_at"))
        .as("pr_created_at"),
      createdAt, dateCol),
    // pr_created_at IS required: the reference's fromisoformat(None)
    // raises and skips the record (preprocess.py:69-71)
    "username", "repo", "action", "number", "pr_created_at", "created_at")

  /** IssueCommentEvent handler (`preprocess.py:78-91`). */
  def comments(raw: DataFrame): DataFrame = nullGuard(
    ofType(raw, "IssueCommentEvent").select(
      username, repo,
      col("payload.issue.number").as("number"),
      col("payload.issue.title").as("title"),
      col("payload.issue.user.login").as("author"),
      try_to_timestamp(col("payload.issue.created_at")).as("issue_created_at"),
      col("payload.comment.body").as("comment"),
      col("payload.comment.author_association").as("association"),
      createdAt, dateCol),
    // issue_created_at required (fromisoformat crash, preprocess.py:83-85);
    // comment NOT required — the reference keeps a comment whose body is a
    // JSON null (dict access returns None without raising). A missing
    // `comment` KEY would crash the reference, but after projection Spark
    // can't tell missing-key from null-value; we align with the
    // null-value case, the one real payloads exhibit
    "username", "repo", "number", "issue_created_at", "created_at")

  /** WatchEvent handler (`preprocess.py:94-100`). */
  def watches(raw: DataFrame): DataFrame = nullGuard(
    ofType(raw, "WatchEvent").select(
      username, repo, col("payload.action").as("action"),
      createdAt, dateCol),
    // `action` deliberately NOT in the guard — same policy as `comment`:
    // the reference KeyErrors only on a MISSING payload.action key
    // (preprocess.py:97) but keeps a JSON-null value (dict access returns
    // None without raising), and after projection Spark cannot tell
    // missing-key from null-value, so the null-value reading wins for
    // both handlers consistently
    "username", "repo", "created_at")

  /** ForkEvent handler (`preprocess.py:103-108`). */
  def forks(raw: DataFrame): DataFrame = nullGuard(
    ofType(raw, "ForkEvent").select(username, repo, createdAt, dateCol),
    "username", "repo", "created_at")

  /** All six curated frames from one parsed raw frame. Callers ingesting
    * many files should `.persist()` `raw` first so the parse is shared
    * (reference analog: `dask.compute(...)` common-prefix dedup,
    * `gha.ipynb:337-341`).
    */
  def all(raw: DataFrame): Map[String, DataFrame] = Map(
    "commit" -> commits(raw), "create" -> creates(raw), "pr" -> prs(raw),
    "comment" -> comments(raw), "watch" -> watches(raw), "fork" -> forks(raw))
}
