package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** replaceWhere (S20): predicate-scoped overwrite — the backfill primitive.
  * The laws that distinguish it from upsertPartitions/deleteWhere:
  * partitions the predicate covers but the batch doesn't repopulate are
  * DROPPED; partitions outside the predicate are never touched (files
  * byte-identical); a batch row violating the predicate aborts BEFORE any
  * write.
  */
class ReplaceWhereSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._


  private def mk(day: String, ids: Range, tag: String = "base") =
    ids.map(i => (i, tag, java.sql.Date.valueOf(day))).toDF("id", "tag", "date")

  private def build(dir: String): Unit = {
    TableStore.append(mk("2024-01-01", 0 until 10), dir)
    TableStore.append(mk("2024-01-02", 10 until 20), dir)
    TableStore.append(mk("2024-01-03", 20 until 30), dir)
  }

  test("replaces exactly the predicate slice; batch-less covered partition is dropped") {
    val dir = tmpDir("replace") + "/t"
    build(dir)
    // predicate covers 01-02 and 01-03; batch repopulates only 01-02
    val batch = mk("2024-01-02", 100 until 105, "rebuilt")
    val replaced = TableStore.replaceWhere(spark, batch, dir,
      $"date" >= "2024-01-02")
    assert(replaced === 20) // 10 rows on each of the two covered dates
    val back = TableStore.read(spark, dir)
    assert(back.filter($"date" === "2024-01-03").count() === 0) // dropped
    assert(back.filter($"date" === "2024-01-02").select("id")
      .as[Int].collect().sorted.toSeq === (100 until 105))
    assert(back.filter($"date" === "2024-01-01").count() === 10) // untouched
    assert(back.count() === 15)
  }

  test("partitions outside the predicate keep byte-identical files") {
    val dir = tmpDir("replace") + "/t"
    build(dir)
    def files() = TableStore.dataFiles(spark, dir)
      .filter(_.contains("date=2024-01-01")).sorted
    val before = files()
    TableStore.replaceWhere(spark, mk("2024-01-02", 50 until 52, "r"), dir,
      $"date" === "2024-01-02")
    assert(files() === before) // same paths, never rewritten
  }

  test("a batch row violating the predicate aborts before any write") {
    val dir = tmpDir("replace") + "/t"
    build(dir)
    val rogue = mk("2024-01-01", 999 until 1000, "rogue") // outside slice
      .unionByName(mk("2024-01-02", 100 until 101, "ok"))
    val ex = intercept[IllegalArgumentException] {
      TableStore.replaceWhere(spark, rogue, dir, $"date" === "2024-01-02")
    }
    assert(ex.getMessage.contains("do not satisfy"))
    // nothing changed
    assert(TableStore.read(spark, dir).count() === 30)
    assert(TableStore.read(spark, dir)
      .filter($"tag" =!= "base").count() === 0)
  }

  test("a batch missing a table column is rejected (no silent NULL rewrite)") {
    val dir = tmpDir("replace") + "/t"
    build(dir)
    val narrow = Seq((100, java.sql.Date.valueOf("2024-01-02")))
      .toDF("id", "date") // no `tag`
    val ex = intercept[IllegalArgumentException] {
      TableStore.replaceWhere(spark, narrow, dir, $"date" === "2024-01-02")
    }
    assert(ex.getMessage.contains("missing=tag"))
    assert(TableStore.read(spark, dir).count() === 30) // untouched
  }

  test("a batch with an extra undeclared column is rejected") {
    val dir = tmpDir("replace") + "/t"
    build(dir)
    val wide = mk("2024-01-02", 100 until 101, "r")
      .withColumn("rogue_col", lit(1))
    val ex = intercept[IllegalArgumentException] {
      TableStore.replaceWhere(spark, wide, dir, $"date" === "2024-01-02")
    }
    assert(ex.getMessage.contains("extra=rogue_col"))
  }

  test("re-running the same replace is a state-level no-op (idempotent backfill)") {
    val dir = tmpDir("replace") + "/t"
    build(dir)
    val batch = mk("2024-01-02", 100 until 103, "r")
    TableStore.replaceWhere(spark, batch, dir, $"date" === "2024-01-02")
    val once = TableStore.read(spark, dir).orderBy("id")
      .collect().toSeq
    val replaced2 = TableStore.replaceWhere(spark, batch, dir,
      $"date" === "2024-01-02")
    assert(replaced2 === 3) // replaces its own previous output
    assert(TableStore.read(spark, dir).orderBy("id").collect().toSeq === once)
  }

  test("a replaceWhere that dies before its commit changes nothing; the " +
    "rerun converges to the clean-run result") {
    // the swap of every touched date is one log commit: a crash before it
    // leaves the old version whole (no half-dropped slice)
    val clean = tmpDir("replace") + "/clean"
    val crashed = tmpDir("replace") + "/crashed"
    for (dir <- Seq(clean, crashed)) build(dir)
    val batch = mk("2024-01-02", 100 until 105, "rebuilt")
    val pred = $"date" >= "2024-01-02"
    TableStore.replaceWhere(spark, batch, clean, pred)
    def state(dir: String) = TableStore.read(spark, dir)
      .select("id", "tag", "date").as[(Int, String, java.sql.Date)]
      .collect().sortBy(_._1).toSeq
    val before = state(crashed)
    TableStore.beforeCommitHook = () => throw new RuntimeException("killed")
    try intercept[RuntimeException](TableStore.replaceWhere(spark, batch, crashed, pred))
    finally TableStore.beforeCommitHook = () => ()
    assert(state(crashed) === before)
    TableStore.replaceWhere(spark, batch, crashed, pred)
    assert(state(crashed) === state(clean))
  }

  test("NULL predicate rows are kept (SQL WHERE semantics, as deleteWhere)") {
    val dir = tmpDir("replace") + "/t"
    val withNull = Seq((1, "a"), (2, null), (3, "b"))
      .toDF("id", "tag")
      .withColumn("date", lit(java.sql.Date.valueOf("2024-01-01")))
    TableStore.append(withNull, dir)
    // predicate on tag: NULL-tag row must survive the replace
    val batch = Seq((10, "a")).toDF("id", "tag")
      .withColumn("date", lit(java.sql.Date.valueOf("2024-01-01")))
    TableStore.replaceWhere(spark, batch, dir, $"tag" === "a")
    val ids = TableStore.read(spark, dir).select("id")
      .as[Int].collect().sorted.toSeq
    assert(ids === Seq(2, 3, 10))
  }
}
