package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** S24 storage audit: footer-vs-data value-count law (nulls included),
  * multi-file aggregation, and the no-data-pages claim's observable —
  * byte totals bounded by the physical file size.
  */
class StorageAuditSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("per-column value counts equal row count (nulls counted); totals " +
    "sum across files; compressed bytes bounded by the file on disk") {
    val dir = tmpDir("saudit") + "/t"
    val df = (1L to 1000L).map(i =>
      (i, if (i % 3 == 0) None else Some(s"v$i"), i * 0.5))
      .toDF("id", "s", "v")
    df.repartition(3).write.parquet(dir)
    val files = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
    assert(files.length == 3)
    val prof = StorageAudit.columnProfile(spark, files)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(prof.keySet == Set("id", "s", "v"))
    // parquet num_values counts nulls too: every column reports 1000
    assert(prof.values.forall(_._4 == 1000L), prof.toString)
    // compressed totals are real bytes: positive, and column chunks can
    // never exceed the sum of the files that hold them
    val onDisk = files.map(f => new java.io.File(f).length()).sum
    val totalComp = prof.values.map(_._2).sum
    assert(totalComp > 0 && totalComp <= onDisk,
      s"comp=$totalComp disk=$onDisk")
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("empty file list is rejected loudly") {
    intercept[IllegalArgumentException] {
      StorageAudit.columnProfile(spark, Nil)
    }
  }
}
