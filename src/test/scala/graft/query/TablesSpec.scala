package graft.query

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
import graft.SparkFixture

/** Pins the Tables normalization layer against BOTH timestamp encodings
  * observed across driver testdata drops (the round-5 regeneration switched
  * events.ts from TIMESTAMP(NANOS)-read-as-Long to timestamp[us] NTZ and
  * silently broke every events query until Tables adapted).
  */
class TablesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._


  test("events.ts arrives as TimestampType from the live testdata") {
    val df = Tables(spark, sf("sf0.001"), "events")
    assert(df.schema("ts").dataType === TimestampType)
    assert(df.count() > 0)
  }

  test("legacy nanos-as-long events encoding converts to the same wall clock") {
    val dir = tmpDir("tables_spec")
    // 2024-01-01 00:00:00 UTC in integer nanos — the shape nanosAsLong
    // delivers for parquet TIMESTAMP(NANOS)
    val nanos = 1704067200L * 1000000000L + 123456000L
    Seq((1L, nanos, 7L, "push", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].head()
    assert(got === "2024-01-01 00:00:00.123456")
  }

  test("TIMESTAMP_NTZ columns normalize to session-TZ TimestampType") {
    val dir = tmpDir("tables_spec")
    spark.sql(
      """SELECT 1L AS event_id,
        |  TIMESTAMP_NTZ '2024-01-01 00:00:00.123456' AS ts,
        |  7L AS user_id, 'push' AS event_type, 1.0D AS value, '{}' AS props""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    // sanity: the fixture really round-trips as NTZ before normalization
    assert(spark.read.parquet(s"$dir/events.parquet")
      .schema("ts").dataType === TimestampNTZType)
    val df = Tables(spark, dir, "events")
    assert(df.schema("ts").dataType === TimestampType)
    val got = df.select(date_format($"ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))
      .as[String].head()
    assert(got === "2024-01-01 00:00:00.123456")
  }

  test("NTZ normalization refuses a non-UTC session (cast would shift the epoch)") {
    val dir = tmpDir("tables_spec")
    spark.sql(
      """SELECT 1L AS o_orderkey,
        |  TIMESTAMP_NTZ '2024-03-05 12:00:00' AS o_orderdate""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val e = intercept[IllegalArgumentException] {
        Tables(spark, dir, "orders")
      }
      assert(e.getMessage.contains("UTC"))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    // back under UTC the same table loads
    assert(Tables(spark, dir, "orders")
      .schema("o_orderdate").dataType === TimestampType)
  }

  test("non-events tables also normalize NTZ time columns") {
    val dir = tmpDir("tables_spec")
    spark.sql(
      """SELECT 1L AS o_orderkey,
        |  TIMESTAMP_NTZ '2024-03-05 12:00:00' AS o_orderdate""".stripMargin)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val df = Tables(spark, dir, "orders")
    assert(df.schema("o_orderdate").dataType === TimestampType)
  }
}
