package graft.store

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** S13 row-level MERGE: Delta `MERGE INTO` semantics (update-all on key
  * match, insert-all otherwise) with partition-local keys over the
  * generation store.
  */
class MergeSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._


  private def mkRows(day: String, ids: Range, tag: String) =
    ids.map(i => (i.toLong, s"$tag$i", java.sql.Date.valueOf(day)))
      .toDF("id", "payload", "date")

  test("merge updates matched keys and inserts unmatched ones") {
    val dir = tmpDir("merge") + "/t"
    TableStore.append(mkRows("2024-01-01", 0 until 10, "v0-"), dir)
    TableStore.append(mkRows("2024-01-02", 10 until 20, "v0-"), dir)
    // batch: update ids 3,4 on day 1; insert ids 100,101 on day 1
    val batch = mkRows("2024-01-01", 3 until 5, "v1-")
      .unionByName(mkRows("2024-01-01", 100 until 102, "new-"))
    TableStore.merge(spark, batch, dir, Seq("id"))
    val back = TableStore.read(spark, dir)
    assert(back.count() === 22)
    assert(back.filter($"id" === 3).select("payload").as[String].head() === "v1-3")
    assert(back.filter($"id" === 100).count() === 1)
    // unmatched old rows on the touched partition survive untouched
    assert(back.filter($"id" === 7).select("payload").as[String].head() === "v0-7")
  }

  test("merge rewrites ONLY the partitions named by the batch") {
    val dir = tmpDir("merge") + "/t"
    TableStore.append(mkRows("2024-01-01", 0 until 10, "v0-"), dir)
    TableStore.append(mkRows("2024-01-02", 10 until 20, "v0-"), dir)
    def files(day: String): Map[String, Long] =
      TableStore.dataFiles(spark, dir).filter(_.contains(s"date=$day/"))
        .map(f => new File(new java.net.URI(f).getPath))
        .map(f => f.getName -> f.lastModified()).toMap
    val day2Before = files("2024-01-02")
    TableStore.merge(spark, mkRows("2024-01-01", 3 until 5, "v1-"), dir, Seq("id"))
    // untouched partition: byte-identical file list, mtimes unchanged
    assert(files("2024-01-02") === day2Before)
    // touched partition re-written (new file set)
    assert(TableStore.read(spark, dir).filter($"id" === 3)
      .select("payload").as[String].head() === "v1-3")
  }

  test("merge is idempotent: re-merging the same batch is a state no-op") {
    val dir = tmpDir("merge") + "/t"
    TableStore.append(mkRows("2024-01-01", 0 until 10, "v0-"), dir)
    val batch = mkRows("2024-01-01", 3 until 5, "v1-")
      .unionByName(mkRows("2024-01-01", 100 until 102, "new-"))
    TableStore.merge(spark, batch, dir, Seq("id"))
    val after1 = TableStore.read(spark, dir).orderBy("id")
      .collect().map(_.toString).toSeq
    TableStore.merge(spark, batch, dir, Seq("id"))
    val after2 = TableStore.read(spark, dir).orderBy("id")
      .collect().map(_.toString).toSeq
    assert(after2 === after1)
  }

  test("keys are partition-local: same id on another date is an insert, not a move") {
    val dir = tmpDir("merge") + "/t"
    TableStore.append(mkRows("2024-01-01", 0 until 5, "v0-"), dir)
    // id 3 arrives again under a DIFFERENT date: contract says this is an
    // insert into the new partition; the day-1 row stays (no cross-
    // partition match scan — that is what keeps merge O(touched partitions))
    TableStore.merge(spark, mkRows("2024-01-02", 3 until 4, "moved-"), dir, Seq("id"))
    val back = TableStore.read(spark, dir)
    assert(back.filter($"id" === 3).count() === 2)
  }

  test("merge validates its inputs") {
    val dir = tmpDir("merge") + "/t"
    TableStore.append(mkRows("2024-01-01", 0 until 5, "v0-"), dir)
    val noDate = Seq((1L, "x")).toDF("id", "payload")
    intercept[IllegalArgumentException] {
      TableStore.merge(spark, noDate, dir, Seq("id"))
    }
    intercept[IllegalArgumentException] {
      TableStore.merge(spark, mkRows("2024-01-01", 0 until 1, "x"), dir, Seq("nope"))
    }
  }
}
