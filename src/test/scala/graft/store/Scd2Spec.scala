package graft.store

import java.sql.Date
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** S23 SCD2 laws: close/open/insert interval maintenance, right-open asOf
  * boundaries, same-batch idempotency, out-of-order rejection.
  */
class Scd2Spec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def d(s: String) = Date.valueOf(s)

  private def newDim(): String = {
    val dir = tmpDir("scd2") + "/dim"
    Scd2.init(Seq((1L, "gold", 10.0), (2L, "silver", 20.0))
      .toDF("id", "tier", "bal"), dir, d("2024-01-01"))
    dir
  }

  test("apply closes changed versions right-open, keeps unchanged, inserts new keys") {
    val dir = newDim()
    // key 1 changes tier; key 2 row is byte-identical (no-op); key 3 is new
    Scd2.apply(spark, dir,
      Seq((1L, "platinum", 10.0), (2L, "silver", 20.0), (3L, "bronze", 5.0))
        .toDF("id", "tier", "bal"),
      Seq("id"), d("2024-02-01"))
    val all = TableStore.read(spark, dir)
      .select("id", "tier", "valid_from", "valid_to")
      .as[(Long, String, Date, Option[Date])].collect().toSet
    assert(all == Set(
      (1L, "gold", d("2024-01-01"), Some(d("2024-02-01"))),
      (1L, "platinum", d("2024-02-01"), None),
      (2L, "silver", d("2024-01-01"), None),
      (3L, "bronze", d("2024-02-01"), None)))
    // right-open boundaries: the change date itself reads the NEW version
    def tierAt(at: String) = Scd2.asOf(spark, dir, d(at))
      .filter($"id" === 1L).select("tier").as[String].head()
    assert(tierAt("2024-01-31") == "gold")
    assert(tierAt("2024-02-01") == "platinum")
    // current == asOf(far future)
    assert(Scd2.current(spark, dir).count() ==
      Scd2.asOf(spark, dir, d("2030-01-01")).count())
  }

  test("apply on an EMPTY dimension inserts every batch row (no NPE on " +
    "the missing max valid_from)") {
    val dir = tmpDir("scd2") + "/dim"
    Scd2.init(Seq.empty[(Long, String, Double)]
      .toDF("id", "tier", "bal"), dir, d("2024-01-01"))
    Scd2.apply(spark, dir,
      Seq((1L, "gold", 10.0), (2L, "silver", 20.0)).toDF("id", "tier", "bal"),
      Seq("id"), d("2024-02-01"))
    val dim = TableStore.read(spark, dir)
    assert(dim.count() === 2)
    assert(dim.filter(col("valid_to").isNull).count() === 2)
  }

  test("re-applying the same batch at the same effective date is a no-op") {
    val dir = newDim()
    val batch = Seq((1L, "platinum", 10.0)).toDF("id", "tier", "bal")
    Scd2.apply(spark, dir, batch, Seq("id"), d("2024-02-01"))
    val before = TableStore.read(spark, dir).collect().toSet
    Scd2.apply(spark, dir, batch, Seq("id"), d("2024-02-01"))
    assert(TableStore.read(spark, dir).collect().toSet == before)
  }

  test("out-of-order effective dates are rejected loudly") {
    val dir = newDim()
    Scd2.apply(spark, dir, Seq((1L, "x", 1.0)).toDF("id", "tier", "bal"),
      Seq("id"), d("2024-03-01"))
    val e = intercept[IllegalArgumentException] {
      Scd2.apply(spark, dir, Seq((1L, "y", 2.0)).toDF("id", "tier", "bal"),
        Seq("id"), d("2024-02-01"))
    }
    assert(e.getMessage.contains("must not precede"))
  }

  test("an update batch with duplicate keys is rejected before it can fan out") {
    val dir = newDim()
    val before = TableStore.read(spark, dir).collect().toSet
    // two rows for key 1: the left join against current versions would fan
    // out and write two open (valid_to IS NULL) versions — must fail loud
    val e = intercept[IllegalArgumentException] {
      Scd2.apply(spark, dir,
        Seq((1L, "platinum", 10.0), (1L, "gold", 11.0))
          .toDF("id", "tier", "bal"),
        Seq("id"), d("2024-02-01"))
    }
    assert(e.getMessage.contains("one row per key"))
    // the rejection happened before any write: store byte-unchanged
    assert(TableStore.read(spark, dir).collect().toSet == before)
  }

  test("pitJoin totality: intervals partition the timeline, so every fact " +
    "with a known key and in-range date matches EXACTLY one version") {
    val dir = newDim()
    Scd2.apply(spark, dir, Seq((1L, "platinum", 10.0)).toDF("id", "tier", "bal"),
      Seq("id"), d("2024-02-01"))
    Scd2.apply(spark, dir, Seq((1L, "diamond", 10.0)).toDF("id", "tier", "bal"),
      Seq("id"), d("2024-03-01"))
    val facts = Seq(
      (1L, d("2024-01-05")), (1L, d("2024-02-05")), (1L, d("2024-03-05")),
      (2L, d("2024-06-01")),
      (1L, d("2023-12-01")), // before the first version → drops
      (9L, d("2024-02-05"))) // unknown key → drops
      .toDF("id", "ts")
    val got = Scd2.pitJoin(facts, spark, dir, Seq("id"), $"ts")
      .select("id", "ts", "tier").as[(Long, Date, String)].collect().toSet
    assert(got == Set(
      (1L, d("2024-01-05"), "gold"),
      (1L, d("2024-02-05"), "platinum"),
      (1L, d("2024-03-05"), "diamond"),
      (2L, d("2024-06-01"), "silver")))
  }

  test("each apply is one atomic generation swap: the prior generation " +
    "still reads while the new one commits") {
    val dir = newDim()
    val before = TableStore.read(spark, dir).collect().map(_.toString).sorted
    Scd2.apply(spark, dir, Seq((1L, "platinum", 10.0)).toDF("id", "tier", "bal"),
      Seq("id"), d("2024-02-01"))
    // init and apply: two versions, the first still readable as it was
    assert(Generations.list(spark, dir) === Seq(0L, 1L))
    assert(Generations.read(spark, dir, 0).collect().map(_.toString).sorted
      === before)
  }
}
