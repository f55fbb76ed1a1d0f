package graft.store

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** The guarantees the table log gives beyond single writes: snapshot
  * reads across a compaction, restore across vacuum, and adoption of the
  * layouts earlier builds left (`g<N>` generations and flat `date=` dirs).
  */
class TableLogSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def batch(day: String, ids: Range) =
    ids.map(i => (i.toLong, s"u$i", java.sql.Date.valueOf(day)))
      .toDF("id", "user", "date")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a reader that took its snapshot before a compactDates commit reads " +
    "the same rows after it; no partition is briefly absent") {
    val dir = tmpDir("log") + "/t"
    (1 to 3).foreach(k => TableStore.append(batch("2024-01-01", k * 10 until k * 10 + 5), dir))
    TableStore.append(batch("2024-01-02", 100 until 105), dir)
    val reader = TableStore.read(spark, dir)
    val want = rows(reader)
    val pinned = reader.inputFiles.toSeq
    TableStore.compactDates(spark, dir, Seq("2024-01-01", "2024-01-02"))
    // the old plan still names only files of the old version, all on disk
    assert(reader.inputFiles.toSeq === pinned)
    pinned.foreach(f => assert(Files.exists(Paths.get(new java.net.URI(f).getPath)), f))
    assert(rows(reader) === want)
    assert(rows(TableStore.read(spark, dir)) === want)
    assert(TableStore.dataFiles(spark, dir).size === 2)
  }

  test("restore to a version taken before an append and a compaction gives " +
    "back that version's exact rows and files") {
    val dir = tmpDir("log") + "/t"
    TableStore.append(batch("2024-01-01", 0 until 5), dir)
    TableStore.append(batch("2024-01-01", 5 until 10), dir)
    val v = TableStore.version(spark, dir)
    val (want, files) = (rows(TableStore.read(spark, dir)), TableStore.dataFiles(spark, dir))
    TableStore.append(batch("2024-01-01", 10 until 15), dir)
    TableStore.compactDates(spark, dir, Seq("2024-01-01"))
    assert(TableStore.dataFiles(spark, dir).size === 1)
    // vacuum kept v's files: the restore commit re-adds exactly them
    TableStore.restore(spark, dir, v)
    assert(TableStore.version(spark, dir) === v + 3)
    assert(TableStore.dataFiles(spark, dir) === files)
    assert(rows(TableStore.read(spark, dir)) === want)
    // a restore to the current version commits nothing
    TableStore.restore(spark, dir, v + 3)
    assert(TableStore.version(spark, dir) === v + 3)
    // version -1 (before the first commit) empties the table
    TableStore.restore(spark, dir, -1L)
    assert(TableStore.read(spark, dir).count() === 0)
  }

  test("a g<N> store bootstraps from its committed generation: the first " +
    "read, append and compact see exactly g2's rows") {
    val dir = tmpDir("log") + "/gen"
    def gen(n: Int, ids: Range, committed: Boolean): Unit = {
      batch("2024-01-01", ids).write.partitionBy("date").parquet(s"$dir/g$n")
      if (!committed) Files.delete(Paths.get(s"$dir/g$n/_SUCCESS"))
    }
    gen(1, 0 until 5, committed = true)
    gen(2, 10 until 20, committed = true)
    gen(3, 100 until 150, committed = false) // a writer died mid-swap
    batch("2024-01-01", 200 until 210).write.partitionBy("date")
      .parquet(s"$dir/.staging/append-1") // a staged append never published
    val g2 = (10 until 20).map(_.toLong)
    assert(TableStore.read(spark, dir).select("id").as[Long].collect().sorted.toSeq === g2)
    assert(TableStore.version(spark, dir) === 0L) // the layout, as version 0
    TableStore.append(batch("2024-01-02", 300 until 302), dir)
    assert(TableStore.read(spark, dir).select("id").as[Long].collect().sorted.toSeq ===
      g2 ++ Seq(300L, 301L))
    TableStore.compact(spark, dir)
    assert(TableStore.read(spark, dir).select("id").as[Long].collect().sorted.toSeq ===
      g2 ++ Seq(300L, 301L))
    assert(TableStore.dataFiles(spark, dir).size === 2)
  }

  test("a flat store bootstraps from its date= dirs, ignoring uncommitted " +
    "generations and leftover stages") {
    val dir = tmpDir("log") + "/flat"
    batch("2024-01-01", 0 until 8).write.partitionBy("date").parquet(dir)
    batch("2024-01-01", 50 until 60).write.partitionBy("date").parquet(s"$dir/g0")
    Files.delete(Paths.get(s"$dir/g0/_SUCCESS"))
    batch("2024-01-01", 70 until 80).write.partitionBy("date")
      .parquet(s"$dir/compact_stage.tmp")
    val flat = (0 until 8).map(_.toLong)
    assert(TableStore.read(spark, dir).select("id").as[Long].collect().sorted.toSeq === flat)
    TableStore.compactDates(spark, dir, Seq("2024-01-01"))
    assert(TableStore.read(spark, dir).select("id").as[Long].collect().sorted.toSeq === flat)
    assert(TableStore.dataFiles(spark, dir).size === 1)
  }
}
