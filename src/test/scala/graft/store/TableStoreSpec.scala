package graft.store

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class TableStoreSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def tmpDir(): String = {
    val base = java.nio.file.Paths.get("/root/repo/target/tmp")
    Files.createDirectories(base)
    Files.createTempDirectory(base, "store").toString
  }

  private def mkBatch(day: String, ids: Range) =
    ids.map(i => (i, s"u$i", java.sql.Date.valueOf(day)))
      .toDF("id", "user", "date")

  test("append accumulates batches under date partitions (S6)") {
    val dir = tmpDir() + "/t"
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
    val dir = tmpDir() + "/t"
    TableStore.append(mkBatch("2024-01-01", 0 until 10), dir)
    TableStore.append(mkBatch("2024-01-02", 10 until 30), dir)
    val q = TableStore.read(spark, dir)
      .filter($"date" === "2024-01-02").select("id")
    assert(q.count() === 20)
    val scan = q.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findFirstIn(scan).getOrElse("")
    assert(pf.contains("date"), s"date not in partition filters:\n$scan")
  }

  test("upsertPartitions is idempotent per partition (T4 exactly-once)") {
    val dir = tmpDir() + "/t"
    TableStore.append(mkBatch("2024-01-01", 0 until 10), dir)
    // re-run of the same hour replaces, not duplicates
    TableStore.upsertPartitions(spark, mkBatch("2024-01-01", 0 until 10), dir)
    TableStore.upsertPartitions(spark, mkBatch("2024-01-01", 0 until 10), dir)
    assert(TableStore.read(spark, dir).count() === 10)
    // other partitions untouched
    TableStore.append(mkBatch("2024-01-02", 0 until 5), dir)
    TableStore.upsertPartitions(spark, mkBatch("2024-01-01", 0 until 10), dir)
    assert(TableStore.read(spark, dir).count() === 15)
  }

  test("compact collapses to one file per partition and preserves rows (S8/S9)") {
    val dir = tmpDir() + "/t"
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
    // vacuum removed the old generation
    assert(TableStore.dataFiles(spark, dir).size === 2)
  }

  test("compactDates bin-packs only the touched partitions; untouched files never move") {
    val dir = tmpDir() + "/t"
    (1 to 4).foreach { k =>
      TableStore.append(mkBatch("2024-01-01", k * 100 until k * 100 + 5), dir)
      TableStore.append(mkBatch("2024-01-02", k * 100 until k * 100 + 5), dir)
    }
    TableStore.compact(spark, dir) // establish a generation
    // re-fragment one date only
    (1 to 3).foreach { k =>
      TableStore.append(mkBatch("2024-01-02", k * 1000 until k * 1000 + 5), dir)
    }
    val rowsBefore = TableStore.read(spark, dir).count()
    val untouchedBefore = TableStore.dataFiles(spark, dir)
      .filter(_.contains("date=2024-01-01")).toSet
    val gen = TableStore.currentGeneration(spark, dir).get._1
    val (before, after) = TableStore.compactDates(spark, dir,
      Seq("2024-01-02"))
    assert(before >= 4 && after === 1) // compacted file + appends -> 1
    // same generation (in-place maintenance, not a swap); rows preserved
    assert(TableStore.currentGeneration(spark, dir).get._1 === gen)
    assert(TableStore.read(spark, dir).count() === rowsBefore)
    // the untouched partition's files are byte-for-byte the same paths
    assert(TableStore.dataFiles(spark, dir)
      .filter(_.contains("date=2024-01-01")).toSet === untouchedBefore)
    // absent dates are a no-op
    assert(TableStore.compactDates(spark, dir, Seq("1999-01-01")) === ((0L, 0L)))
  }

  test("compact bin-packs to the target file size: hot partitions split, small ones stay single") {
    val dir = tmpDir() + "/t"
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
    val dir = tmpDir() + "/t"
    TableStore.append(mkBatch("2024-01-01", 0 until 10), dir)
    // a reader resolves its file list BEFORE the swap...
    val preSwapFiles = TableStore.dataFiles(spark, dir)
    assert(preSwapFiles.nonEmpty)
    TableStore.compact(spark, dir)
    // ...and every one of those files still exists after it (the old
    // generation is vacuumed only by the NEXT compaction)
    preSwapFiles.foreach(f =>
      assert(Files.exists(java.nio.file.Paths.get(
        f.stripPrefix("file:"))), s"reader lost $f mid-scan"))
    // new readers resolve to the compacted generation
    assert(TableStore.dataFiles(spark, dir).size === 1)
    assert(TableStore.read(spark, dir).count() === 10)
    // second compaction vacuums the generation the old reader was using
    TableStore.compact(spark, dir)
    assert(preSwapFiles.forall(f =>
      !Files.exists(java.nio.file.Paths.get(f.stripPrefix("file:")))))
  }

  test("overwrite replaces result tables (S7)") {
    val dir = tmpDir() + "/r"
    TableStore.overwrite(Seq((1, "a")).toDF("k", "v"), dir)
    TableStore.overwrite(Seq((2, "b"), (3, "c")).toDF("k", "v"), dir)
    val back = TableStore.read(spark, dir).orderBy("k")
    assert(back.count() === 2)
    assert(back.head().getInt(0) === 2)
  }

  test("time travel: the superseded generation stays queryable until the next rewrite") {
    val dir = tmpDir() + "/tt"
    TableStore.overwriteVersioned(Seq((1, "v1")).toDF("k", "v"), dir) // g0
    TableStore.overwriteVersioned(Seq((2, "v2")).toDF("k", "v"), dir) // g1
    assert(TableStore.generations(spark, dir) === Seq(0, 1))
    // current read sees g1; VERSION AS OF 0 still sees the old rows
    assert(TableStore.read(spark, dir).head().getString(1) === "v2")
    assert(TableStore.readGeneration(spark, dir, 0).head().getString(1) === "v1")
    // a third rewrite vacuums g0: time travel to it must fail actionably
    TableStore.overwriteVersioned(Seq((3, "v3")).toDF("k", "v"), dir) // g2
    assert(TableStore.generations(spark, dir) === Seq(1, 2))
    val e = intercept[IllegalArgumentException] {
      TableStore.readGeneration(spark, dir, 0)
    }
    assert(e.getMessage.contains("vacuumed"))
  }

  test("time travel depth: retainGenerations keeps a deeper history window") {
    val dir = tmpDir() + "/ttd"
    def ow(v: String) = TableStore.overwriteVersioned(
      Seq((1, v)).toDF("k", "v"), dir, retainGenerations = 3)
    ow("v1"); ow("v2"); ow("v3") // g0, g1, g2 — all inside the window
    assert(TableStore.generations(spark, dir) === Seq(0, 1, 2))
    assert(TableStore.readGeneration(spark, dir, 0).head().getString(1) === "v1")
    assert(TableStore.readGeneration(spark, dir, 1).head().getString(1) === "v2")
    assert(TableStore.read(spark, dir).head().getString(1) === "v3")
    ow("v4") // g3 vacuums g0 only: window slides, depth holds
    assert(TableStore.generations(spark, dir) === Seq(1, 2, 3))
    assert(TableStore.readGeneration(spark, dir, 1).head().getString(1) === "v2")
    val e = intercept[IllegalArgumentException] {
      TableStore.readGeneration(spark, dir, 0)
    }
    assert(e.getMessage.contains("vacuumed"))
    // retention 1 = no history: the swap itself remains atomic, but the
    // superseded generation goes immediately
    TableStore.overwriteVersioned(Seq((1, "v5")).toDF("k", "v"), dir,
      retainGenerations = 1)
    assert(TableStore.generations(spark, dir) === Seq(4))
  }

  test("schema evolution: a declared read schema bridges old and new file layouts") {
    // a long-lived curated table accumulates files written under different
    // code versions; the GhaSchemas-style DECLARED schema (not inference,
    // not mergeSchema's full footer sweep) is what makes the mix readable:
    // files predating a column yield nulls, survive compaction, and never
    // force a schema-merge scan over every footer at 100 TB
    import org.apache.spark.sql.types._
    val dir = tmpDir() + "/evo"
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
    val dir = tmpDir() + "/race"
    (1 to 3).foreach(k =>
      TableStore.append(mkBatch("2024-01-01", k * 10 until k * 10 + 5), dir))
    // writer A holds the claim on the next generation (g0: never compacted)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.create(new org.apache.hadoop.fs.Path(dir, "g1.claim"), false).close()
    val rows = TableStore.read(spark, dir).count()
    // writer B (this thread) must abort before touching ANY file
    intercept[TableStore.ConcurrentWriteException] {
      TableStore.compact(spark, dir)
    }
    // store untorn: same generation, same rows, no g1 debris
    assert(TableStore.read(spark, dir).count() === rows)
    assert(TableStore.generations(spark, dir) === Seq(0))
    // A crashed without committing: after the staleness window the claim
    // is reclaimable and compaction proceeds
    f.delete(new org.apache.hadoop.fs.Path(dir, "g1.claim"), false)
    val (before, after) = TableStore.compact(spark, dir)
    assert(before > after && TableStore.read(spark, dir).count() === rows)
    // ... and the successful writer released its own claim
    assert(!f.exists(new org.apache.hadoop.fs.Path(dir, "g1.claim")))
  }

  test("stale claims expire: a crashed writer blocks only until the timeout") {
    val dir = tmpDir() + "/stale"
    TableStore.append(mkBatch("2024-01-01", 0 until 10), dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.create(new org.apache.hadoop.fs.Path(dir, "g1.claim"), false).close()
    Thread.sleep(30)
    // with a tiny staleness window the leftover claim is reclaimed
    val (before, after) = TableStore.compact(spark, dir, staleLockMs = 10L)
    assert(before >= after)
    assert(TableStore.read(spark, dir).count() === 10)
  }

  test("compact writes a _stats sidecar and readPruned plans against it") {
    val dir = tmpDir() + "/sc"
    (1 to 4).foreach(k =>
      TableStore.append(
        (k * 100 until k * 100 + 20)
          .map(i => (i.toLong, java.sql.Date.valueOf("2024-01-01")))
          .toDF("id", "date"), dir))
    // pre-compact: no sidecar -> the footer fallback carries the pruning
    val pr0 = TableStore.readPruned(spark, dir,
      Seq(TableStore.ColRange("id", 100, 119)))
    assert(pr0.statsSource === "footers")
    assert(pr0.filesKept < pr0.filesTotal)
    val expected = pr0.df.filter($"id".between(100, 119)).count()
    // z-order layout keeps per-file id ranges tight, so the sidecar has
    // something to prove (hash bin-packing scatters ids across files —
    // ZOrderSpec covers that conservative case)
    TableStore.compact(spark, dir, zorderBy = Seq("id"),
      targetFileBytes = 1024)
    val pr = TableStore.readPruned(spark, dir,
      Seq(TableStore.ColRange("id", 100, 119)))
    assert(pr.statsSource === "sidecar")
    assert(pr.filesKept < pr.filesTotal) // sidecar stats actually skip files
    assert(pr.df.filter($"id".between(100, 119)).count() === expected)
  }

  test("compactDates keeps the sidecar fresh for the touched partitions") {
    val dir = tmpDir() + "/scd"
    def batch(day: String, ids: Range) =
      ids.map(i => (i.toLong, java.sql.Date.valueOf(day))).toDF("id", "date")
    TableStore.append(batch("2024-01-01", 0 until 50), dir)
    TableStore.append(batch("2024-01-02", 1000 until 1050), dir)
    TableStore.compact(spark, dir, targetFileBytes = 1024)
    // new data lands in one partition; its files are NOT in the sidecar yet
    TableStore.append(batch("2024-01-02", 2000 until 2050), dir)
    TableStore.compactDates(spark, dir, Seq("2024-01-02"),
      targetFileBytes = 1024)
    val pr = TableStore.readPruned(spark, dir,
      Seq(TableStore.ColRange("id", 2000, 2049)))
    assert(pr.statsSource === "sidecar")
    // pruning still sees through to the rewritten files: day-1 files skip,
    // and the new rows are all present
    assert(pr.filesKept < pr.filesTotal)
    assert(pr.df.filter($"id" >= 2000).count() === 50)
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
      val got = TableStore.append(df, tmpDir() + "/t")
      assert(got.size === got.distinct.size, name)
      assert(got.toSet === collected(df), name)
      assert(got.toSet === want, name)
    }
  }

  test("a crash between the sidecar refresh's write and its swap leaves " +
    "readPruned on footers; vacuum drops the orphaned sibling") {
    val dir = tmpDir() + "/swap"
    def batch(day: String, ids: Range) =
      ids.map(i => (i.toLong, java.sql.Date.valueOf(day))).toDF("id", "date")
    TableStore.append(batch("2024-01-01", 0 until 50), dir)
    TableStore.append(batch("2024-01-02", 1000 until 1050), dir)
    TableStore.compact(spark, dir, targetFileBytes = 1024)
    TableStore.append(batch("2024-01-02", 2000 until 2050), dir)
    val ranges = Seq(TableStore.ColRange("id", 2000, 2049))
    assert(TableStore.readPruned(spark, dir, ranges).statsSource === "sidecar")
    TableStore.beforeSidecarSwapHook =
      () => throw new RuntimeException("killed before the sidecar swap")
    try intercept[RuntimeException](TableStore.compactDates(spark, dir,
      Seq("2024-01-02"), targetFileBytes = 1024))
    finally TableStore.beforeSidecarSwapHook = () => ()
    val gen = new org.apache.hadoop.fs.Path(
      TableStore.resolveDataDir(spark, dir)).getName
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(dir, s"stats_$gen.swap")
    assert(f.exists(orphan), "the crash point left no sibling sidecar")
    // the live sidecar predates the rewrite (it lists the replaced files,
    // not the new ones), so readers must be back on footers
    val pr = TableStore.readPruned(spark, dir, ranges)
    assert(pr.statsSource === "footers")
    assert(pr.df.filter($"id" >= 2000).count() === 50)
    assert(TableStore.read(spark, dir).count() === 150)
    // the next full compaction supersedes the generation; its vacuum
    // removes the dead refresh's sibling along with nothing live
    TableStore.compact(spark, dir, targetFileBytes = 1024)
    assert(!f.exists(orphan), "vacuum left the orphaned sibling sidecar")
    val after = TableStore.readPruned(spark, dir, ranges)
    assert(after.statsSource === "sidecar")
    assert(after.df.filter($"id" >= 2000).count() === 50)
  }

  test("compactDates publish is crash-recoverable from the retained stage") {
    val dir = tmpDir() + "/crash"
    def batch(day: String, ids: Range) =
      ids.map(i => (i.toLong, java.sql.Date.valueOf(day))).toDF("id", "date")
    TableStore.append(batch("2024-01-01", 0 until 40), dir)
    TableStore.compact(spark, dir)
    TableStore.append(batch("2024-01-01", 100 until 140), dir)
    // simulate the worst crash point: stage fully committed, then the
    // publish died AFTER deleting the old partition and BEFORE renaming
    // the staged one in — the pre-fix path would have lost the partition
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataDir = TableStore.resolveDataDir(spark, dir)
    val stage = new org.apache.hadoop.fs.Path(dir, "compact_stage.tmp")
    // build a committed stage exactly like compactDates does
    spark.read.option("basePath", dataDir)
      .parquet(s"$dataDir/date=2024-01-01")
      .write.mode("overwrite").partitionBy("date")
      .option("partitionOverwriteMode", "static").parquet(stage.toString)
    assert(f.exists(new org.apache.hadoop.fs.Path(stage, "_SUCCESS")))
    f.delete(new org.apache.hadoop.fs.Path(dataDir, "date=2024-01-01"), true)
    // the partition is gone from the live generation... but the next
    // maintenance call recovers it from the stage before doing new work
    TableStore.compactDates(spark, dir, Seq("2024-01-01"))
    assert(TableStore.read(spark, dir).count() === 80)
    assert(!f.exists(stage)) // stage dropped only after the publish landed
  }

  test("first compaction of a legacy FLAT table does not swallow its own " +
    "stats sidecar as rebased data") {
    val dir = tmpDir() + "/flat"
    // legacy layout: date= partitions at the table root, no generation
    mkBatch("2024-03-01", 0 until 20)
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    TableStore.compact(spark, dir)
    // the sidecar (dir/stats_g0, written before the locked re-list) must
    // NOT have been rebase-copied into g0 as foreign-schema "data"
    assert(!f.exists(new org.apache.hadoop.fs.Path(dir, "g0/stats_g0")),
      "stats sidecar leaked into the generation as data")
    val t = TableStore.read(spark, dir)
    assert(t.count() === 20)
    assert(t.columns.toSet === Set("id", "user", "date"))
  }

  test("appendEvolving on a legacy FLAT table keeps the pre-existing " +
    "columns in the declared schema") {
    val dir = tmpDir() + "/flatevolve"
    mkBatch("2024-03-02", 0 until 5)
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    // evolve with a batch missing `user` and adding `score`
    val evolved = Seq((100, 0.5, java.sql.Date.valueOf("2024-03-03")))
      .toDF("id", "score", "date")
    TableStore.appendEvolving(evolved, dir)
    val t = TableStore.readEvolved(spark, dir)
    assert(t.columns.toSet === Set("id", "user", "score", "date"),
      "flat table's pre-existing columns erased from the declared schema")
    assert(t.filter($"user".isNotNull).count() === 5)
    assert(t.filter($"score".isNotNull).count() === 1)
  }

  test("an uncommitted stage (no _SUCCESS) is discarded, source untouched") {
    val dir = tmpDir() + "/halfstage"
    def batch(day: String, ids: Range) =
      ids.map(i => (i.toLong, java.sql.Date.valueOf(day))).toDF("id", "date")
    TableStore.append(batch("2024-01-01", 0 until 30), dir)
    TableStore.compact(spark, dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new org.apache.hadoop.fs.Path(dir, "compact_stage.tmp")
    f.mkdirs(new org.apache.hadoop.fs.Path(stage, "date=2024-01-01"))
    TableStore.compactDates(spark, dir, Seq("2024-01-01"))
    assert(TableStore.read(spark, dir).count() === 30)
    assert(!f.exists(stage))
  }
}
