package graft.store

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class TableStoreSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._


  private def mkBatch(day: String, ids: Range) =
    ids.map(i => (i, s"u$i", java.sql.Date.valueOf(day)))
      .toDF("id", "user", "date")

  test("append accumulates batches under date partitions (S6)") {
    val dir = tmpDir("store") + "/t"
    TableStore.append(mkBatch("2024-01-01", 0 until 10), dir)
    TableStore.append(mkBatch("2024-01-02", 10 until 30), dir)
    val back = TableStore.read(spark, dir)
    assert(back.count() === 30)
    assert(back.filter($"date" === "2024-01-02").count() === 20)
  }

  test("a date predicate reaches the scan as a partition filter (R2)") {
    // SURVEY §4 R2 claims partition pruning on date is Catalyst-built-in
    // for the store's layout — pin it: the filter must land in the scan's
    // PartitionFilters (pruning at file listing), not as a post-scan
    // Filter over all partitions.
    val dir = tmpDir("store") + "/t"
    TableStore.append(mkBatch("2024-01-01", 0 until 10), dir)
    TableStore.append(mkBatch("2024-01-02", 10 until 30), dir)
    val q = TableStore.read(spark, dir)
      .filter($"date" === "2024-01-02").select("id")
    assert(q.count() === 20)
    val scan = q.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(scan).getOrElse("")
    assert(pf.contains("date"), s"date not in partition filters:\n$scan")
  }

  test("a partition replacement is idempotent per partition (T4 exactly-once)") {
    val dir = tmpDir("store") + "/t"
    val day1 = $"date" === "2024-01-01"
    TableStore.append(mkBatch("2024-01-01", 0 until 10), dir)
    // re-run of the same hour replaces, not duplicates
    TableStore.replaceWhere(spark, mkBatch("2024-01-01", 0 until 10), dir, day1)
    TableStore.replaceWhere(spark, mkBatch("2024-01-01", 0 until 10), dir, day1)
    assert(TableStore.read(spark, dir).count() === 10)
    // other partitions untouched
    TableStore.append(mkBatch("2024-01-02", 0 until 5), dir)
    TableStore.replaceWhere(spark, mkBatch("2024-01-01", 0 until 10), dir, day1)
    assert(TableStore.read(spark, dir).count() === 15)
  }

  test("compact collapses to one file per partition and preserves rows (S8/S9)") {
    val dir = tmpDir("store") + "/t"
    // 4 small appends x 2 dates = many files
    (1 to 4).foreach { k =>
      TableStore.append(mkBatch("2024-01-01", k * 100 until k * 100 + 5), dir)
      TableStore.append(mkBatch("2024-01-02", k * 100 until k * 100 + 5), dir)
    }
    val rowsBefore = TableStore.read(spark, dir).count()
    val (before, after) = TableStore.compact(spark, dir)
    assert(before >= 8)
    assert(after === 2) // one per date partition
    assert(TableStore.read(spark, dir).count() === rowsBefore)
    // the current version names only the compacted files
    assert(TableStore.dataFiles(spark, dir).size === 2)
  }

  test("compactDates bin-packs only the touched partitions; untouched files never move") {
    val dir = tmpDir("store") + "/t"
    (1 to 4).foreach { k =>
      TableStore.append(mkBatch("2024-01-01", k * 100 until k * 100 + 5), dir)
      TableStore.append(mkBatch("2024-01-02", k * 100 until k * 100 + 5), dir)
    }
    TableStore.compact(spark, dir)
    // re-fragment one date only
    (1 to 3).foreach { k =>
      TableStore.append(mkBatch("2024-01-02", k * 1000 until k * 1000 + 5), dir)
    }
    val rowsBefore = TableStore.read(spark, dir).count()
    val untouchedBefore = TableStore.dataFiles(spark, dir)
      .filter(_.contains("date=2024-01-01")).toSet
    val (before, after) = TableStore.compactDates(spark, dir,
      Seq("2024-01-02"))
    assert(before >= 4 && after === 1) // compacted file + appends -> 1
    // rows preserved
    assert(TableStore.read(spark, dir).count() === rowsBefore)
    // the untouched partition's files are byte-for-byte the same paths
    assert(TableStore.dataFiles(spark, dir)
      .filter(_.contains("date=2024-01-01")).toSet === untouchedBefore)
    // absent dates are a no-op
    assert(TableStore.compactDates(spark, dir, Seq("1999-01-01")) === ((0L, 0L)))
  }

  test("compact bin-packs to the target file size: hot partitions split, small ones stay single") {
    val dir = tmpDir("store") + "/t"
    TableStore.append(mkBatch("2024-01-01", 0 until 2000), dir)
    TableStore.append(mkBatch("2024-01-02", 0 until 10), dir)
    val hotBytes = TableStore.dataFiles(spark, dir)
      .filter(_.contains("date=2024-01-01"))
      .map(f => java.nio.file.Files.size(
        java.nio.file.Paths.get(f.stripPrefix("file:")))).sum
    // target ~1/4 of the hot partition -> expect ~4 files there, 1 for the
    // small one (a single task writing one partition-sized file would be
    // the scale bottleneck this guards against)
    val (_, after) = TableStore.compact(spark, dir,
      targetFileBytes = math.max(1L, hotBytes / 4))
    val files = TableStore.dataFiles(spark, dir)
    val hot = files.count(_.contains("date=2024-01-01"))
    val small = files.count(_.contains("date=2024-01-02"))
    // >= 2, not >= 4: buckets hash into ~10 shuffle partitions, and
    // same-date collisions legitimately merge two buckets into one file —
    // the invariant is "split at all, bounded above", not an exact count
    assert(hot >= 2 && hot <= 5, s"expected 2-5 hot files, got $hot")
    assert(small === 1)
    assert(after === files.size.toLong)
    assert(TableStore.read(spark, dir).count() === 2010)
  }

  test("compaction swap keeps the superseded generation alive for in-flight readers") {
    val dir = tmpDir("store") + "/t"
    TableStore.append(mkBatch("2024-01-01", 0 until 10), dir)
    // a reader resolves its file list BEFORE the compaction...
    val preSwapFiles = TableStore.dataFiles(spark, dir)
    assert(preSwapFiles.nonEmpty)
    TableStore.compact(spark, dir)
    // ...and every one of those files still exists after it
    def exists(f: String) = Files.exists(java.nio.file.Paths.get(f.stripPrefix("file:")))
    preSwapFiles.foreach(f => assert(exists(f), s"reader lost $f mid-scan"))
    // new readers resolve to the compacted version
    assert(TableStore.dataFiles(spark, dir).size === 1)
    assert(TableStore.read(spark, dir).count() === 10)
    // vacuum deletes them once Retained later versions have committed
    (1 until TableStore.Retained).foreach(_ => TableStore.compact(spark, dir))
    assert(preSwapFiles.forall(exists))
    TableStore.compact(spark, dir)
    assert(preSwapFiles.forall(f => !exists(f)))
    assert(TableStore.read(spark, dir).count() === 10)
  }

  test("overwrite replaces result tables (S7)") {
    val dir = tmpDir("store") + "/r"
    TableStore.overwrite(Seq((1, "a")).toDF("k", "v"), dir)
    TableStore.overwrite(Seq((2, "b"), (3, "c")).toDF("k", "v"), dir)
    val back = TableStore.read(spark, dir).orderBy("k")
    assert(back.count() === 2)
    assert(back.head().getInt(0) === 2)
  }

  test("time travel: a superseded version stays queryable while retained") {
    val dir = tmpDir("store") + "/tt"
    TableStore.overwriteVersioned(Seq((1, "v1")).toDF("k", "v"), dir) // v0
    TableStore.overwriteVersioned(Seq((2, "v2")).toDF("k", "v"), dir) // v1
    assert(Generations.list(spark, dir) === Seq(0L, 1L))
    // current read sees v1; VERSION AS OF 0 still sees the old rows
    assert(TableStore.read(spark, dir).head().getString(1) === "v2")
    assert(Generations.read(spark, dir, 0).head().getString(1) === "v1")
    // Retained more rewrites vacuum v0: time travel to it fails actionably
    (3 to TableStore.Retained + 2).foreach(i =>
      TableStore.overwriteVersioned(Seq((i, s"v$i")).toDF("k", "v"), dir))
    assert(Generations.list(spark, dir).head === 1L)
    assert(Generations.read(spark, dir, 1).head().getString(1) === "v2")
    val e = intercept[IllegalArgumentException] {
      Generations.read(spark, dir, 0)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("schema evolution: a declared read schema bridges old and new file layouts") {
    // a long-lived curated table accumulates files written under different
    // code versions; the GhaSchemas-style DECLARED schema (not inference,
    // not mergeSchema's full footer sweep) is what makes the mix readable:
    // files predating a column yield nulls, survive compaction, and never
    // force a schema-merge scan over every footer at 100 TB
    import org.apache.spark.sql.types._
    val dir = tmpDir("store") + "/evo"
    TableStore.append(Seq((1L, "2024-01-01"))
      .toDF("id", "date"), dir) // v1 layout: no score column
    TableStore.append(Seq((2L, 0.7, "2024-01-02"))
      .toDF("id", "score", "date"), dir) // v2 layout adds score
    val declared = StructType(Seq(
      StructField("id", LongType), StructField("score", DoubleType),
      StructField("date", StringType)))
    val back = TableStore.read(spark, dir, declared).orderBy("id")
      .as[(Long, Option[Double], String)].collect().toSeq
    assert(back === Seq((1L, None, "2024-01-01"), (2L, Some(0.7), "2024-01-02")))
    // compaction under the declared schema normalizes every file to it
    TableStore.compact(spark, dir, Some(declared))
    val after = TableStore.read(spark, dir, declared).orderBy("id")
      .as[(Long, Option[Double], String)].collect().toSeq
    assert(after === back)
  }

  test("concurrent generation writers: the second claimant loses CLEANLY") {
    val dir = tmpDir("store") + "/race"
    (1 to 3).foreach(k =>
      TableStore.append(mkBatch("2024-01-01", k * 10 until k * 10 + 5), dir))
    val rows = TableStore.read(spark, dir).count()
    val v = TableStore.version(spark, dir)
    // compaction A commits inside compaction B's pre-commit window
    TableStore.beforeCommitHook = () => {
      TableStore.beforeCommitHook = () => ()
      TableStore.compact(spark, dir)
    }
    val e = try intercept[TableStore.ConcurrentWriteException] {
      TableStore.compact(spark, dir)
    } finally TableStore.beforeCommitHook = () => ()
    assert(e.getMessage.contains("removed"))
    // store untorn: A's version only, same rows, one compacted file
    assert(TableStore.version(spark, dir) === v + 1)
    assert(TableStore.read(spark, dir).count() === rows)
    assert(TableStore.dataFiles(spark, dir).size === 1)
  }

  test("readPruned skips files of a z-ordered compaction by footer stats") {
    val dir = tmpDir("store") + "/sc"
    (1 to 4).foreach(k =>
      TableStore.append(
        (k * 100 until k * 100 + 20)
          .map(i => (i.toLong, java.sql.Date.valueOf("2024-01-01")))
          .toDF("id", "date"), dir))
    // pre-compact: one file per append batch, each with its own id range
    val pr0 = TableStore.readPruned(spark, dir,
      Seq(TableStore.ColRange("id", 100, 119)))
    assert(pr0.statsSource === "footers")
    assert(pr0.filesKept < pr0.filesTotal)
    val expected = pr0.df.filter($"id".between(100, 119)).count()
    // z-order layout keeps per-file id ranges tight, so the footers have
    // something to prove (hash bin-packing scatters ids across files —
    // ZOrderSpec covers that conservative case)
    TableStore.compact(spark, dir, zorderBy = Seq("id"),
      targetFileBytes = 1024)
    val pr = TableStore.readPruned(spark, dir,
      Seq(TableStore.ColRange("id", 100, 119)))
    assert(pr.filesKept < pr.filesTotal) // footer stats actually skip files
    assert(pr.df.filter($"id".between(100, 119)).count() === expected)
  }

  test("readPruned after compactDates returns the same rows as a plain filter") {
    val dir = tmpDir("store") + "/scd"
    def batch(day: String, ids: Range) =
      ids.map(i => (i.toLong, java.sql.Date.valueOf(day))).toDF("id", "date")
    TableStore.append(batch("2024-01-01", 0 until 50), dir)
    TableStore.append(batch("2024-01-02", 1000 until 1050), dir)
    TableStore.compact(spark, dir, zorderBy = Seq("id"),
      targetFileBytes = 1024)
    // new data lands in one partition, which compactDates rewrites
    TableStore.append(batch("2024-01-02", 2000 until 2050), dir)
    TableStore.compactDates(spark, dir, Seq("2024-01-02"),
      targetFileBytes = 1024)
    val inRange = $"id".between(2000, 2049)
    val pr = TableStore.readPruned(spark, dir,
      Seq(TableStore.ColRange("id", 2000, 2049)))
    // the z-ordered day-1 files skip; the rewritten files are read
    assert(pr.filesKept < pr.filesTotal)
    val plain = TableStore.read(spark, dir).filter(inRange)
    assert(pr.df.filter(inRange).collect().toSet === plain.collect().toSet)
    assert(plain.count() === 50)
    // untouched partition rows intact
    assert(TableStore.read(spark, dir).count() === 150)
  }

  test("append returns the distinct date values a collect of the batch " +
    "would: empty batch, null date, escaped value") {
    def collected(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select($"date".cast("string")).distinct().collect()
        .map(_.getString(0)).toSet
    val empty = mkBatch("2024-01-01", 0 until 0)
    val withNull = Seq((1, Some(java.sql.Date.valueOf("2024-01-01"))),
      (2, None), (3, None)).toDF("id", "date")
    // '/', ':' and '%' are all escaped in the partition directory name
    val escaped = Seq((1, "a/b:c%d"), (2, "a/b:c%d"), (3, "plain"))
      .toDF("id", "date")
    for ((name, df, want) <- Seq(("empty", empty, Set.empty[String]),
        ("null", withNull, Set("2024-01-01", null)),
        ("escaped", escaped, Set("a/b:c%d", "plain")))) {
      val got = TableStore.append(df, tmpDir("store") + "/t")
      assert(got.size === got.distinct.size, name)
      assert(got.toSet === collected(df), name)
      assert(got.toSet === want, name)
    }
  }

  test("a compactDates that dies before its commit leaves the table " +
    "untouched; the re-run compacts") {
    val dir = tmpDir("store") + "/crash"
    def batch(day: String, ids: Range) =
      ids.map(i => (i.toLong, java.sql.Date.valueOf(day))).toDF("id", "date")
    TableStore.append(batch("2024-01-01", 0 until 40), dir)
    TableStore.append(batch("2024-01-01", 100 until 140), dir)
    val files = TableStore.dataFiles(spark, dir)
    TableStore.beforeCommitHook = () => throw new RuntimeException("killed")
    try intercept[RuntimeException] {
      TableStore.compactDates(spark, dir, Seq("2024-01-01"))
    } finally TableStore.beforeCommitHook = () => ()
    // the written files are unreferenced: readers see the old version
    assert(TableStore.dataFiles(spark, dir) === files)
    assert(TableStore.read(spark, dir).count() === 80)
    assert(TableStore.compactDates(spark, dir, Seq("2024-01-01"))._2 === 1L)
    assert(TableStore.read(spark, dir).count() === 80)
  }

  test("first compaction of a legacy FLAT table does not swallow its own " +
    "stats sidecar as rebased data") {
    val dir = tmpDir("store") + "/flat"
    // legacy layout: date= partitions at the table root, no generation
    mkBatch("2024-03-01", 0 until 20)
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    // the min/max sidecar an earlier build left at the flat root
    Seq(("date=2024-03-01/part-0.parquet", "id", 0.0, 19.0))
      .toDF("file", "col", "mn", "mx")
      .coalesce(1).write.parquet(s"$dir/stats_g0")
    TableStore.compact(spark, dir)
    // the sidecar (dir/stats_g0) must NOT have been compacted or
    // rebase-copied into g0 as foreign-schema "data"
    assert(!f.exists(new org.apache.hadoop.fs.Path(dir, "g0/stats_g0")),
      "stats sidecar leaked into the generation as data")
    val t = TableStore.read(spark, dir)
    assert(t.count() === 20)
    assert(t.columns.toSet === Set("id", "user", "date"))
  }

  test("appendEvolving on a legacy FLAT table keeps the pre-existing " +
    "columns in the declared schema") {
    val dir = tmpDir("store") + "/flatevolve"
    mkBatch("2024-03-02", 0 until 5)
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    // evolve with a batch missing `user` and adding `score`
    val evolved = Seq((100, 0.5, java.sql.Date.valueOf("2024-03-03")))
      .toDF("id", "score", "date")
    TableStore.appendEvolving(evolved, dir)
    val t = TableStore.read(spark, dir)
    assert(t.columns.toSet === Set("id", "user", "score", "date"),
      "flat table's pre-existing columns erased from the declared schema")
    assert(t.filter($"user".isNotNull).count() === 5)
    assert(t.filter($"score".isNotNull).count() === 1)
  }
}
