package graft.ingest

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** S1/S2: the gzip NDJSON scan path — the reference's remote hourly-file
  * read (`preprocess.py:144-147`) exercised against real .gz bytes.
  */
class IngestSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def writeGz(path: String, lines: Seq[String]): Unit = {
    val out = new GZIPOutputStream(Files.newOutputStream(Paths.get(path)))
    out.write(lines.mkString("\n").getBytes("UTF-8"))
    out.close()
  }

  test("gzip NDJSON reads transparently; one task per gz file (S1)") {
    val dir = tmpDir("gz_ingest")
    writeGz(s"$dir/2024-02-29-1.json.gz", Fixture.good)
    writeGz(s"$dir/2024-02-29-2.json.gz", Fixture.good)

    val lines = Ingest.readLines(spark,
      Seq(s"$dir/2024-02-29-1.json.gz", s"$dir/2024-02-29-2.json.gz"))
    assert(lines.count() === 2L * Fixture.good.size)
    // gzip is unsplittable: parallel grain = #files, like the reference's
    // one-Dask-task-per-hourly-file (preprocess.py:260)
    assert(lines.rdd.getNumPartitions === 2)

    val raw = Extract.parseRaw(lines)
    assert(raw.count() === 2L * Fixture.good.size)
    assert(Extract.commits(raw).filter($"username" === "alice").count() === 4)
  }

  test("uncompressed NDJSON splits by block size (S2: blocksize='50 MiB' analog)") {
    val dir = tmpDir("block_split")
    // ~1 MiB plain-text file
    val line = Fixture.good.head
    val lines = Seq.fill((1 << 20) / (line.length + 1))(line)
    Files.write(Paths.get(s"$dir/big.json"), lines.mkString("\n").getBytes)

    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (128 * 1024).toString)
      val df = Ingest.readLines(spark, Seq(s"$dir/big.json"))
      assert(df.rdd.getNumPartitions > 1,
        "uncompressed text must split into multiple tasks")
      assert(df.count() === lines.size)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
  }
}
