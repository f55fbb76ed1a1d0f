package graft.store

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** S21: corrupt-file quarantine — torn/truncated objects must be swept
  * aside (not silently skipped, not fatal forever) and everything else
  * must read clean afterwards.
  */
class QuarantineSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._


  private def build(dir: String): Unit = {
    val df = (0 until 300).map { i =>
      (i.toLong, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 5, 1).plusDays(i % 3)))
    }.toDF("id", "date")
    TableStore.append(df.repartition(col("date")), dir)
  }

  private def truncateFileOf(dir: String, date: String): String = {
    val victim = TableStore.dataFiles(spark, dir)
      .find(_.contains(s"date=$date")).get
    val ch = java.nio.channels.FileChannel.open(
      Paths.get(new java.net.URI(victim).getPath), StandardOpenOption.WRITE)
    try ch.truncate(10) finally ch.close()
    victim
  }

  test("a truncated file fails the direct read, quarantines, and the rest reads clean") {
    val dir = tmpDir("quar") + "/t"
    build(dir)
    truncateFileOf(dir, "2024-05-02")
    // the torn file is fatal to a plain scan (no silent wrong answers)
    intercept[Exception] {
      TableStore.read(spark, dir).agg(sum("id")).collect()
    }
    val swept = TableStore.quarantineCorrupt(spark, dir)
    assert(swept.size === 1 && swept.head.contains("date=2024-05-02"))
    val back = TableStore.read(spark, dir)
    assert(back.count() === 200) // 2 of 3 dates survive
    assert(back.select(countDistinct("date")).head().getLong(0) === 2)
    // the torn bytes are preserved for forensics, out of readers' sight
    val q = new java.io.File(
      new java.net.URI(dir).getPath, "_quarantine")
    // the local FS writes a hidden .crc sidecar beside the copy — count data
    val moved = q.listFiles().filter(!_.getName.startsWith("."))
    assert(q.isDirectory && moved.length === 1, moved.mkString(","))
  }

  test("a quarantined file leaves the read path for good: new bytes at " +
    "its path are never read back") {
    // sweep a torn file, then put NEW torn bytes at the same path: the
    // quarantine commit removed the path from the table, so nothing reads
    // or re-sweeps it
    val dir = tmpDir("quar") + "/t"
    build(dir)
    val victim = truncateFileOf(dir, "2024-05-02")
    assert(TableStore.quarantineCorrupt(spark, dir).size === 1)
    val victimPath = Paths.get(new java.net.URI(victim).getPath)
    Files.write(victimPath, Array.fill[Byte](10)(7))
    // the log no longer names the path: the sweep has nothing to do and
    // readers never open it
    assert(TableStore.quarantineCorrupt(spark, dir).isEmpty)
    assert(!TableStore.dataFiles(spark, dir).contains(victim))
    assert(TableStore.read(spark, dir).count() === 200)
  }

  test("clean store: the sweep is a no-op; sweeping twice finds nothing") {
    val dir = tmpDir("quar") + "/t"
    build(dir)
    assert(TableStore.quarantineCorrupt(spark, dir).isEmpty)
    truncateFileOf(dir, "2024-05-01")
    assert(TableStore.quarantineCorrupt(spark, dir).size === 1)
    assert(TableStore.quarantineCorrupt(spark, dir).isEmpty) // idempotent
    assert(TableStore.read(spark, dir).count() === 200)
  }
}
