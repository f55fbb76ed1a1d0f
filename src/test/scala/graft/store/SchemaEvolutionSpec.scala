package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class SchemaEvolutionSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def tmp(): String =
    tmpDir("evolve") + "/t"

  test("widen-on-append: new column surfaces, historical rows read NULL") {
    val dir = tmp()
    TableStore.appendEvolving(
      Seq((1L, "2024-01-01"), (2L, "2024-01-02"))
        .toDF("id", "date").withColumn("date", $"date".cast("date")), dir)
    TableStore.appendEvolving(
      Seq((3L, "hot", "2024-01-02"))
        .toDF("id", "tag", "date").withColumn("date", $"date".cast("date")), dir)
    val got = TableStore.read(spark, dir)
      .select("id", "tag").orderBy("id")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got === Array(1L -> None, 2L -> None, 3L -> Some("hot")))
    // declared schema is the widened contract
    val s = TableStore.snapshot(spark, dir).schema.get
    assert(s.fieldNames.toSeq === Seq("id", "date", "tag"))
  }

  test("type conflict fails loudly instead of coercing") {
    val dir = tmp()
    TableStore.appendEvolving(
      Seq((1L, "2024-01-01")).toDF("id", "date")
        .withColumn("date", $"date".cast("date")), dir)
    val bad = Seq(("x", "2024-01-01")).toDF("id", "date")
      .withColumn("date", $"date".cast("date"))
    val e = intercept[IllegalArgumentException](
      TableStore.appendEvolving(bad, dir))
    assert(e.getMessage.contains("schema conflict"))
  }

  test("widening is monotone: a narrow later batch drops no columns") {
    val dir = tmp()
    TableStore.appendEvolving(
      Seq((1L, 0.5, "2024-01-01")).toDF("id", "score", "date")
        .withColumn("date", $"date".cast("date")), dir)
    TableStore.appendEvolving(
      Seq((2L, "2024-01-02")).toDF("id", "date")
        .withColumn("date", $"date".cast("date")), dir)
    val s = TableStore.snapshot(spark, dir).schema.get
    assert(s.fieldNames.contains("score"))
    val rows = TableStore.read(spark, dir).orderBy("id")
      .select("id", "score")
      .collect().map(r => (r.getLong(0), Option(r.get(1))))
    assert(rows === Array(1L -> Some(0.5), 2L -> None))
  }

  test("compaction preserves the evolved schema (declared-schema default)") {
    val dir = tmp()
    TableStore.appendEvolving(
      Seq((1L, "2024-01-01"), (2L, "2024-01-01"))
        .toDF("id", "date").withColumn("date", $"date".cast("date")), dir)
    TableStore.appendEvolving(
      Seq((3L, 9L, "2024-01-01")).toDF("id", "extra", "date")
        .withColumn("date", $"date".cast("date")), dir)
    TableStore.compact(spark, dir)
    val got = TableStore.read(spark, dir)
      .select("id", "extra").orderBy("id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(got === Array(1L -> -1L, 2L -> -1L, 3L -> 9L))
    // post-compact files all carry the full schema; the log keeps it
    assert(TableStore.snapshot(spark, dir).schema.get.fieldNames
      .contains("extra"))
  }

  test("a never-evolved table declares its first writer's schema") {
    val dir = tmp()
    val df = Seq((1L, "2024-01-01")).toDF("id", "date")
      .withColumn("date", $"date".cast("date"))
    TableStore.append(df, dir)
    assert(TableStore.snapshot(spark, dir).schema === Some(df.schema))
    assert(TableStore.read(spark, dir).count() === 1L)
  }
}
