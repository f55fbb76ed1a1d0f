package graft.time

import java.time.Instant
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class IncrementsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("ceilHour advances mid-hour but NOT exact hours (preprocess.py:186 edge)") {
    val df = Seq("2024-02-29 10:00:00", "2024-02-29 10:00:01",
      "2024-02-29 10:59:59")
      .toDF("s").select(to_timestamp($"s").as("ts"))
    val got = df.select(date_format(Increments.ceilHour($"ts"),
      "yyyy-MM-dd HH:mm:ss")).as[String].collect().toSeq
    assert(got === Seq("2024-02-29 10:00:00", "2024-02-29 11:00:00",
      "2024-02-29 11:00:00"))
  }

  test("nextRange resumes after watermark and lags stop by 1h (T1/T2)") {
    val wm = Some(Instant.parse("2024-02-29T10:30:00Z"))
    val now = Instant.parse("2024-03-01T05:45:00Z")
    val (start, stop) = Increments.nextRange(wm, now,
      Instant.parse("2024-01-01T00:00:00Z"))
    assert(start === Instant.parse("2024-02-29T11:00:00Z"))
    assert(stop === Instant.parse("2024-03-01T04:00:00Z"))
  }

  test("nextRange with exact-hour watermark advances past the ingested hour") {
    // hourly file H covers [H, H+1): a watermark anywhere inside hour H —
    // including exactly H — means file H is already stored, so the next
    // unread file is H+1. (ceil-style resume would re-ingest file H here.)
    val wm = Some(Instant.parse("2024-02-29T10:00:00Z"))
    val (start, _) = Increments.nextRange(wm,
      Instant.parse("2024-03-01T00:00:00Z"),
      Instant.parse("2024-01-01T00:00:00Z"))
    assert(start === Instant.parse("2024-02-29T11:00:00Z"))
  }

  test("first run falls back to backfill start") {
    val bf = Instant.parse("2023-01-01T00:00:00Z")
    val (start, _) = Increments.nextRange(None,
      Instant.parse("2024-03-01T00:00:00Z"), bf)
    assert(start === bf)
  }

  test("hourlyUrls: 24 urls/day, reference URL shape incl non-padded hour (S10)") {
    val urls = Increments
      .hourlyUrls(spark, "2024-01-01 00:00:00", "2024-01-01 23:00:00")
      .as[String].collect().toSeq
    assert(urls.size === 24)
    assert(urls.contains("https://data.gharchive.org/2024-01-01-0.json.gz"))
    assert(urls.contains("https://data.gharchive.org/2024-01-01-13.json.gz"))
    assert(!urls.exists(_.contains("-00.json"))) // hour is not zero-padded
  }

  test("hourlyUrls: a caught-up (inverted) range is an empty work list, not an error") {
    // nextRange deliberately returns start > stop when there is nothing to
    // ingest; the composed fetch path must no-op, not crash in sequence()
    val urls = Increments
      .hourlyUrls(spark, "2024-01-01 14:00:00", "2024-01-01 13:00:00")
      .as[String].collect()
    assert(urls.isEmpty)
  }

  test("watermark ignores the null-date partition (__HIVE_DEFAULT_PARTITION__)") {
    val dir = tmpDir("wm_hive_") + "/t"
    val df = Seq(("2024-02-29 02:30:00", "2024-02-29"))
      .toDF("s", "d")
      .select(to_timestamp($"s").as("created_at"), to_date($"d").as("date"))
    graft.store.TableStore.append(df, dir)
    // a null date (external writer / guard bypass) creates the Hive default
    // partition, which sorts lexicographically AFTER every real date
    val nullDate = Seq(("2024-02-29 05:00:00"))
      .toDF("s")
      .select(to_timestamp($"s").as("created_at"),
        lit(null).cast("date").as("date"))
    graft.store.TableStore.append(nullDate, dir)
    assert(Increments.watermark(spark, dir).get.toInstant
      === Instant.parse("2024-02-29T02:30:00Z"))
  }

  test("watermark scans ONLY the latest date partition (metadata-cheap at scale)") {
    val dir = tmpDir("wm_part_") + "/t"
    val df = Seq(
      ("2024-02-28 23:59:00", "2024-02-28"),
      ("2024-02-29 01:00:00", "2024-02-29"),
      ("2024-02-29 02:30:00", "2024-02-29"))
      .toDF("s", "d")
      .select(to_timestamp($"s").as("created_at"), to_date($"d").as("date"))
    graft.store.TableStore.append(df, dir)
    val scan = Increments.watermarkScan(spark, dir).get
    val files = scan.inputFiles
    assert(files.nonEmpty && files.forall(_.contains("date=2024-02-29")),
      s"watermark scan escaped the latest partition: ${files.toSeq}")
    assert(Increments.watermark(spark, dir).get.toInstant
      === Instant.parse("2024-02-29T02:30:00Z"))
  }

  test("watermark reads max(created_at); None for missing table (S5)") {
    assert(Increments.watermark(spark, tmpDir("wm_missing_") + "/nope")
      === None)
    val dir = tmpDir("wm_") + "/t"
    Seq("2024-02-29 01:00:00", "2024-02-29 02:30:00")
      .toDF("s").select(to_timestamp($"s").as("created_at"))
      .write.parquet(dir)
    assert(Increments.watermark(spark, dir).get.toInstant
      === Instant.parse("2024-02-29T02:30:00Z"))
  }
}
