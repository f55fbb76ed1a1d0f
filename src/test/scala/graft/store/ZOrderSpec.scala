package graft.store

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

class ZOrderSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def tmpStore(): (java.nio.file.Path, String) = {
    val root = java.nio.file.Paths.get(tmpDir("graft_zspec"))
    (root, root.toString + "/t")
  }

  // 2-D grid with both dims uniform — z-order should tile it.
  private def grid() = (0 until 10000)
    .map(i => (i.toLong, (i % 100).toLong, (i / 100).toDouble, "2024-01-01"))
    .toDF("id", "x", "y", "date")

  test("zvalue stays within bit budget and is monotone-ish per column") {
    val df = grid()
    val z = df.withColumn("z", ZOrder.zvalue(df, Seq("x", "y"), bits = 4))
    val (zmin, zmax) = z.agg(min("z"), max("z")).as[(Long, Long)].head()
    assert(zmin >= 0L && zmax < (1L << 8), s"z range [$zmin,$zmax]")
    // 16 buckets/dim over 100 distinct values: every bucket populated
    assert(z.select("z").distinct().count() == 256)
  }

  test("rejects bit budgets beyond a long") {
    val df = grid()
    intercept[IllegalArgumentException] {
      ZOrder.boundaries(df, Seq("x", "y"), bits = 32)
    }
  }

  test("z-order compaction yields tight per-file ranges on BOTH columns") {
    val (root, dir) = tmpStore()
    try {
      TableStore.append(grid().repartition(8), dir)
      // ~8 files of the 10k-row grid
      TableStore.compact(spark, dir, zorderBy = Seq("x", "y"),
        targetFileBytes = 4L * 1024)
      val files = TableStore.dataFiles(spark, dir)
      assert(files.size >= 4, s"want multiple files, got ${files.size}")
      // Footer evidence: each file's x-range and y-range must be a small
      // slice of the global range — that is the whole point of z-order.
      // A hash layout gives every file the FULL range on both columns.
      val stats = files.map { f =>
        val fr = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(f),
            spark.sparkContext.hadoopConfiguration))
        try {
          import scala.jdk.CollectionConverters._
          val cols = fr.getFooter.getBlocks.asScala
            .flatMap(_.getColumns.asScala)
            .groupBy(_.getPath.toDotString)
          def range(c: String): (Double, Double) = {
            val rs = cols(c).map(_.getStatistics).collect {
              case s: org.apache.parquet.column.statistics.LongStatistics =>
                (s.getMin.toDouble, s.getMax.toDouble)
              case s: org.apache.parquet.column.statistics.DoubleStatistics =>
                (s.getMin, s.getMax)
            }
            (rs.map(_._1).min, rs.map(_._2).max)
          }
          (range("x"), range("y"))
        } finally fr.close()
      }
      val avgXWidth = stats.map { case ((lo, hi), _) => hi - lo }.sum / stats.size
      val avgYWidth = stats.map { case (_, (lo, hi)) => hi - lo }.sum / stats.size
      // global widths are 99 on both; tiles must average well under half
      assert(avgXWidth < 50, s"avg x width $avgXWidth — layout not clustered")
      assert(avgYWidth < 50, s"avg y width $avgYWidth — layout not clustered")
    } finally { FileUtils.deleteQuietly(root.toFile); () }
  }

  test("readPruned skips files and returns exactly the full-scan result") {
    val (root, dir) = tmpStore()
    try {
      TableStore.append(grid().repartition(8), dir)
      TableStore.compact(spark, dir, zorderBy = Seq("x", "y"),
        targetFileBytes = 8L * 1024)
      val pr = TableStore.readPruned(spark, dir, Seq(
        TableStore.ColRange("x", 10, 20), TableStore.ColRange("y", 10, 20)))
      assert(pr.filesKept < pr.filesTotal,
        s"no files skipped (${pr.filesKept}/${pr.filesTotal})")
      val got = pr.df
        .filter(col("x").between(10, 20) && col("y").between(10, 20))
        .select("id").as[Long].collect().sorted
      val want = TableStore.read(spark, dir)
        .filter(col("x").between(10, 20) && col("y").between(10, 20))
        .select("id").as[Long].collect().sorted
      assert(got.toSeq == want.toSeq && got.nonEmpty)
    } finally { FileUtils.deleteQuietly(root.toFile); () }
  }

  test("readPruned on a hash-compacted table is conservative but correct") {
    val (root, dir) = tmpStore()
    try {
      TableStore.append(grid().repartition(8), dir)
      TableStore.compact(spark, dir, targetFileBytes = 8L * 1024) // no z-order
      val pr = TableStore.readPruned(spark, dir,
        Seq(TableStore.ColRange("x", 10, 20)))
      val got = pr.df.filter(col("x").between(10, 20)).count()
      val want = TableStore.read(spark, dir)
        .filter(col("x").between(10, 20)).count()
      assert(got == want)
    } finally { FileUtils.deleteQuietly(root.toFile); () }
  }

  test("readPruned with an impossible range returns an empty, well-typed frame") {
    val (root, dir) = tmpStore()
    try {
      TableStore.append(grid().repartition(2), dir)
      TableStore.compact(spark, dir, zorderBy = Seq("x"),
        targetFileBytes = 8L * 1024)
      val pr = TableStore.readPruned(spark, dir,
        Seq(TableStore.ColRange("x", 1e9, 2e9)))
      assert(pr.filesKept == 0)
      assert(pr.df.count() == 0)
      assert(pr.df.columns.contains("x"))
    } finally { FileUtils.deleteQuietly(root.toFile); () }
  }

  test("skewed column still spreads across buckets (quantile bucketing)") {
    // power-law x: half the rows share x=0; uniform bucketing would put
    // ~all rows in bucket 0 and the z-value would carry no x information.
    val df = (0 until 8000).map { i =>
      val x = if (i % 2 == 0) 0L else (i % 1000).toLong
      (i.toLong, x, (i % 90).toDouble, "2024-01-01")
    }.toDF("id", "x", "y", "date")
    val z = df.withColumn("z", ZOrder.zvalue(df, Seq("x", "y"), bits = 4))
    // nonzero-x rows must occupy >4 distinct x-buckets despite the skew
    val xBuckets = z.filter(col("x") > 0)
      .select((col("z") % 2 + (col("z") / 4) % 2 * 2 + (col("z") / 16) % 2 * 4
        + (col("z") / 64) % 2 * 8).as("xb"))
      .distinct().count()
    assert(xBuckets > 4, s"only $xBuckets x-buckets used under skew")
  }
}
