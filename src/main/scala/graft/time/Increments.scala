package graft.time

import java.time.Instant
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental-ingestion time logic (S5/S10/F6-F9/T1/T2 in SURVEY.md §2).
  *
  * The reference resumes each hourly run from
  * `max(ingested created_at).ceil("1h")` and stops at
  * `now().floor("1h") - 1h` — the current hour is excluded because it isn't
  * fully published yet (`/root/reference/preprocess.py:178-196`). All of it
  * is pure column arithmetic here; the watermark read is the only
  * driver-side scalar in the engine (a single-row aggregate — Parquet footer
  * stats make it a metadata-only scan in the common case).
  */
object Increments {

  /** F6: ceil to the hour; an exact hour must NOT advance
    * (pandas `.ceil("1h")` semantics, `preprocess.py:186`).
    */
  def ceilHour(ts: Column): Column = {
    val floor = date_trunc("hour", ts)
    when(floor === ts, ts).otherwise(floor + expr("INTERVAL 1 HOUR"))
  }

  /** F7: floor to the hour (`preprocess.py:189`). */
  def floorHour(ts: Column): Column = date_trunc("hour", ts)

  /** T1/S5: ingestion high-watermark = max event time already stored.
    * Replaces the reference's Delta tx-log stats scan
    * (`preprocess.py:181-186`). None when the table doesn't exist yet.
    *
    * NOT a full-table scan: `date` derives from `created_at`, so the global
    * max lives in the lexically-last `date` partition — [[watermarkScan]]
    * reads exactly that partition's files, picked from the table's log
    * (the reference's tx-log stats read is O(1) the same way). Hourly cost is
    * therefore O(one day's data) regardless of table size; non-partitioned
    * tables fall back to a full scan of Parquet footer-backed pages.
    */
  def watermark(spark: SparkSession, tableDir: String,
      tsCol: String = "created_at"): Option[java.sql.Timestamp] =
    watermarkScan(spark, tableDir).flatMap { df =>
      val r = df.agg(max(col(tsCol))).head()
      if (r.isNullAt(0)) None else Some(r.getTimestamp(0))
    }

  /** The frame [[watermark]] aggregates over: just the latest `date`
    * partition of the table's current version (the whole table when not
    * date-partitioned). Exposed so tests can assert the scan's `inputFiles`
    * never leave the latest partition. None if the table is missing/empty.
    */
  def watermarkScan(spark: SparkSession, tableDir: String): Option[DataFrame] = {
    import graft.store.TableStore
    val s = TableStore.snapshot(spark, tableDir)
    // the null-date partition would sort AFTER every real date; picking it
    // would read max(created_at) over null rows -> watermark None -> full
    // re-backfill with duplicated history
    val dates = s.files.values.flatMap(a => Option(a.date))
    if (s.files.isEmpty) None
    else Some(TableStore.frame(spark, tableDir, s,
      if (dates.isEmpty) s.files.values
      else s.files.values.filter(_.date == dates.max)))
  }

  /** T2: incremental range [start, stop] — start is the hour STRICTLY after
    * the watermark's hour, stop lags `now` by one full hour
    * (incomplete-hour guard, `preprocess.py:188-189`).
    *
    * Strictly-after, not `ceil`: an hourly file H holds events with
    * `created_at` in [H, H+1), so ANY watermark inside hour H — including
    * exactly H, where ceil would stay put and re-ingest — means file H is
    * already stored and the next unread file is H+1. (The reference's
    * `ceil("1h")` re-ingests the exact-hour case and duplicates rows.)
    */
  def nextRange(wm: Option[Instant], now: Instant,
      backfillStart: Instant): (Instant, Instant) = {
    // floor the backfill fallback: every downstream consumer (hourly file
    // stems, inflight-marker rollback windows) assumes hour-aligned range
    // bounds, and a 01:30 backfill start would silently shift them all
    val start = wm.map(w => floorHourI(w).plusSeconds(3600))
      .getOrElse(floorHourI(backfillStart))
    val stop = floorHourI(now).minusSeconds(3600)
    (start, stop)
  }

  private def floorHourI(i: Instant): Instant =
    Instant.ofEpochSecond(i.getEpochSecond / 3600 * 3600)

  /** S10/F8/F9: one GH-Archive URL per hour in [start, stop] — the Spark
    * form of `pd.date_range(freq="1h")` + f-string
    * (`preprocess.py:193-196`). Note the non-zero-padded hour, matching the
    * reference's `{d.hour}`.
    */
  def hourlyUrls(spark: SparkSession, start: String, stop: String): DataFrame =
    spark.range(1)
      // caught-up ticks produce an INVERTED range (nextRange returns
      // start > stop when there is nothing to ingest); that must be an
      // empty work list, not sequence()'s "illegal boundaries" error —
      // `when` evaluates only the taken branch, so the sequence never
      // sees the inverted bounds
      .select(explode(when(
        to_timestamp(lit(start)) <= to_timestamp(lit(stop)),
        sequence(to_timestamp(lit(start)), to_timestamp(lit(stop)),
          expr("INTERVAL 1 HOUR")))
        .otherwise(array().cast("array<timestamp>"))).as("h"))
      .select(concat(
        lit("https://data.gharchive.org/"),
        date_format(col("h"), "yyyy-MM-dd-"),
        hour(col("h")).cast("string"),
        lit(".json.gz")).as("url"))
}
