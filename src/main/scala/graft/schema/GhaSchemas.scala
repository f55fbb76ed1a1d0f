package graft.schema

import org.apache.spark.sql.types._

/** Declared schemas for the GH-Archive event stream and the six curated
  * tables.
  *
  * The reference (`/root/reference/preprocess.py:40-108`) never declares a
  * schema — fields are plucked dynamically from parsed JSON dicts and pandas
  * infers dtypes. Spark-first design inverts that: one explicit read schema
  * for the raw events (enables schema pruning + vectorized JSON parsing at
  * scale — only the consumed subtree of each multi-KB event is ever
  * materialized) and one explicit `StructType` per curated table (stable
  * Parquet footers for the oracle and for partition-pruned scans).
  */
object GhaSchemas {

  /** Raw-event read schema: exactly the subtree the six handlers consume
    * (`preprocess.py:40-108`). Everything else in the multi-KB GH event is
    * pruned at parse time — at 100 TB this is the difference between parsing
    * ~5% of each record and parsing all of it.
    */
  val raw: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("actor", StructType(Seq(
      StructField("login", StringType)))),
    StructField("repo", StructType(Seq(
      StructField("name", StringType)))),
    StructField("created_at", StringType),
    StructField("payload", StructType(Seq(
      // PushEvent: array-of-struct, exploded one row per commit
      // (preprocess.py:40-48)
      StructField("commits", ArrayType(StructType(Seq(
        StructField("sha", StringType),
        StructField("message", StringType))))),
      // CreateEvent (preprocess.py:51-59)
      StructField("ref_type", StringType),
      StructField("ref", StringType),
      StructField("description", StringType),
      // PullRequestEvent / WatchEvent action (preprocess.py:66, 98)
      StructField("action", StringType),
      StructField("number", LongType),
      // PullRequestEvent (preprocess.py:62-75)
      StructField("pull_request", StructType(Seq(
        StructField("title", StringType),
        StructField("body", StringType),
        StructField("created_at", StringType),
        StructField("user", StructType(Seq(
          StructField("login", StringType))))))),
      // IssueCommentEvent (preprocess.py:78-91)
      StructField("issue", StructType(Seq(
        StructField("number", LongType),
        StructField("title", StringType),
        StructField("created_at", StringType),
        StructField("user", StructType(Seq(
          StructField("login", StringType))))))),
      StructField("comment", StructType(Seq(
        StructField("body", StringType),
        StructField("author_association", StringType))))
    )))
  ))

  /** Curated-table names, in reference order (`preprocess.py:152-159`). */
  val tableNames: Seq[String] =
    Seq("commit", "create", "pr", "comment", "watch", "fork")

  // ---- curated table schemas (SURVEY.md §1.2) ----
  private def f(n: String, t: DataType) = StructField(n, t)

  val commit: StructType = StructType(Seq(
    f("username", StringType), f("repo", StringType), f("sha", StringType),
    f("message", StringType), f("created_at", TimestampType),
    f("date", DateType)))

  val create: StructType = StructType(Seq(
    f("username", StringType), f("repo", StringType), f("type", StringType),
    f("name", StringType), f("description", StringType),
    f("created_at", TimestampType), f("date", DateType)))

  val pr: StructType = StructType(Seq(
    f("username", StringType), f("repo", StringType), f("action", StringType),
    f("number", LongType), f("title", StringType), f("author", StringType),
    f("body", StringType), f("pr_created_at", TimestampType),
    f("created_at", TimestampType), f("date", DateType)))

  val comment: StructType = StructType(Seq(
    f("username", StringType), f("repo", StringType), f("number", LongType),
    f("title", StringType), f("author", StringType),
    f("issue_created_at", TimestampType), f("comment", StringType),
    f("association", StringType), f("created_at", TimestampType),
    f("date", DateType)))

  val watch: StructType = StructType(Seq(
    f("username", StringType), f("repo", StringType), f("action", StringType),
    f("created_at", TimestampType), f("date", DateType)))

  val fork: StructType = StructType(Seq(
    f("username", StringType), f("repo", StringType),
    f("created_at", TimestampType), f("date", DateType)))

  val curated: Map[String, StructType] = Map(
    "commit" -> commit, "create" -> create, "pr" -> pr,
    "comment" -> comment, "watch" -> watch, "fork" -> fork)
}
