package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture
import graft.query.Constraints

/** S22 write-path expectations: routing accounting, reason determinism,
  * store isolation (rejects never pollute reads), and the row-local-only
  * contract.
  */
class ExpectationsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def batch = Seq(
    (1L, 10.0, Some("a"), "2024-01-01"),
    (2L, 99.0, Some("b"), "2024-01-01"),  // range violation
    (3L, 20.0, None,      "2024-01-02"),  // null violation
    (4L, 99.0, None,      "2024-01-02"),  // both
    (5L, 30.0, Some("c"), "2024-01-02"))
    .toDF("id", "v", "tag", "d")
    .withColumn("date", col("d").cast("date")).drop("d")

  private def checks = Seq(
    Constraints.InRange("v", 0, 50), Constraints.NotNull("tag"))

  test("clean rows land in the table, violators in _rejects with sorted " +
    "comma-joined reasons; counts account for every row") {
    val dir = tmpDir("expect") + "/t"
    val (good, bad) = TableStore.appendWithExpectations(batch, dir, checks)
    assert(good == 2L && bad == 3L)
    // the table reads back ONLY the clean rows — rejects are invisible
    assert(TableStore.read(spark, dir).select("id").as[Long].collect().toSet
      == Set(1L, 5L))
    val rejects = spark.read.parquet(s"$dir/_rejects")
      .select("id", "reject_reasons").as[(Long, String)].collect().toMap
    assert(rejects(2L) == "range:v[0.0,50.0]")
    assert(rejects(3L) == "not_null:tag")
    // both violations, names sorted — deterministic regardless of the
    // order the caller listed the checks
    assert(rejects(4L) == "not_null:tag,range:v[0.0,50.0]")
    // rejects keep the date partitioning (reprocessing a day = one read)
    assert(new java.io.File(s"$dir/_rejects").list()
      .count(_.startsWith("date=")) == 2)
  }

  test("cross-row checks are refused loudly (they need corpus state)") {
    val dir = tmpDir("expect2") + "/t"
    val e = intercept[IllegalArgumentException] {
      TableStore.appendWithExpectations(batch, dir,
        Seq(Constraints.Unique(Seq("id"))))
    }
    assert(e.getMessage.contains("row-local"))
  }

  test("an all-clean batch writes no _rejects directory at all") {
    val dir = tmpDir("expect3") + "/t"
    val (good, bad) = TableStore.appendWithExpectations(
      batch.filter(col("id").isin(1L, 5L)), dir, checks)
    assert(good == 2L && bad == 0L)
    assert(!new java.io.File(s"$dir/_rejects").exists())
  }
}
