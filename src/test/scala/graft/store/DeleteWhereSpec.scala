package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class DeleteWhereSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def tmp(): String =
    tmpDir("delete") + "/t"

  private def seed(dir: String): Unit =
    TableStore.append(
      Seq(
        (1L, "keep", "2024-01-01"), (2L, "drop", "2024-01-01"),
        (3L, "drop", "2024-01-02"), (4L, "drop", "2024-01-02"),
        (5L, "keep", "2024-01-03"))
        .toDF("id", "tag", "date").withColumn("date", $"date".cast("date")),
      dir)

  test("predicate delete rewrites only touched partitions; drops emptied ones") {
    val dir = tmp()
    seed(dir)
    val n = TableStore.deleteWhere(spark, dir, col("tag") === "drop")
    assert(n === 3L)
    val left = TableStore.read(spark, dir).select("id").as[Long]
      .collect().sorted
    assert(left === Array(1L, 5L))
    // date=2024-01-02 was fully deleted -> the table names no file there
    val files = TableStore.dataFiles(spark, dir)
    assert(files.exists(_.contains("date=2024-01-03")),
      s"sanity: untouched partition must be listed in $files")
    assert(!files.exists(_.contains("date=2024-01-02")))
  }

  test("NULL predicate rows survive (SQL DELETE semantics); idempotent re-run") {
    val dir = tmp()
    TableStore.append(
      Seq((1L, Some("x"), "2024-01-01"), (2L, None, "2024-01-01"))
        .toDF("id", "tag", "date").withColumn("date", $"date".cast("date")),
      dir)
    // tag != 'x' is NULL for id=2 -> survives
    assert(TableStore.deleteWhere(spark, dir, col("tag") === "x") === 1L)
    assert(TableStore.read(spark, dir).select("id").as[Long]
      .collect().toSeq === Seq(2L))
    assert(TableStore.deleteWhere(spark, dir, col("tag") === "x") === 0L)
  }

  test("key-list delete (the GDPR path)") {
    val dir = tmp()
    seed(dir)
    val n = TableStore.deleteWhere(spark, dir, col("id").isin(1L, 4L, 99L))
    assert(n === 2L)
    assert(TableStore.read(spark, dir).select("id").as[Long]
      .collect().sorted === Array(2L, 3L, 5L))
  }

  test("no-match delete touches nothing") {
    val dir = tmp()
    seed(dir)
    assert(TableStore.deleteWhere(spark, dir, col("tag") === "absent") === 0L)
    assert(TableStore.read(spark, dir).count() === 5L)
  }
}
