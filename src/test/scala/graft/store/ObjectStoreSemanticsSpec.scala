package graft.store

import java.nio.file.{Files, Paths}
import java.time.Instant
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture
import graft.ingest.GhaPipeline

/** The store protocols exercised against OBJECT-STORE semantics
  * ([[NonAtomicRenameFs]]: rename = copy-then-delete, with crash windows) —
  * the sandbox stand-in for the reference's S3 deployment
  * (`/root/reference/preprocess.py:30,144-147`). What these tests pin:
  * nothing in TableStore/GhaPipeline silently assumes an atomic rename or
  * POSIX directory, so the same code drives `s3a://` via
  * `CloudStorage.applyS3FromEnv` without a correctness cliff.
  */
class ObjectStoreSemanticsSpec extends AnyFunSuite with SparkFixture {

  private def mockDir(prefix: String): String = {
    val d = tmpDir(prefix)
    spark.sparkContext.hadoopConfiguration
      .set("fs.mock3.impl", classOf[NonAtomicRenameFs].getName)
    s"mock3://$d"
  }

  private def commentLine(user: String, h: Int) =
    s"""{"type":"IssueCommentEvent","actor":{"login":"$user"},"repo":{"name":"r/x"},"created_at":"2024-02-29T0$h:30:00Z","payload":{"issue":{"number":1,"title":"t","created_at":"2024-02-29T01:00:00Z","user":{"login":"x"}},"comment":{"body":"b","author_association":"NONE"}}}"""

  test("append → compact → prune → vacuum all run through non-atomic renames") {
    NonAtomicRenameFs.reset()
    val dir = mockDir("objstore_")
    val tbl = s"$dir/events_t"
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 400).map(i =>
        (i.toLong, (i % 7).toLong, (i % 100).toDouble,
          java.sql.Date.valueOf(s"2024-03-0${i % 4 + 1}")))
      .toDF("event_id", "user_id", "value", "date")
    TableStore.append(df.repartition(4), tbl)
    TableStore.append(df.repartition(4), tbl) // second batch: 800 rows total
    assert(TableStore.read(spark, tbl).count() === 800)

    val (before, after) = TableStore.compact(spark, tbl)
    assert(before > after)
    assert(TableStore.read(spark, tbl).count() === 800)
    // the swap committed a fresh generation on the mock store
    assert(TableStore.currentGeneration(spark, tbl).map(_._1) === Some(1))

    // pruned read plans from the compacted generation's footers
    val pruned = TableStore.readPruned(spark, tbl,
      Seq(TableStore.ColRange("user_id", 2, 2)))
    assert(pruned.df.filter(col("user_id") === 2).count() ===
      df.filter(col("user_id") === 2).count() * 2)

    // a second compact vacuums g0; the current generation serves reads
    TableStore.compact(spark, tbl)
    assert(Generations.list(spark, tbl) === Seq(1, 2))
    assert(TableStore.read(spark, tbl).count() === 800)
    // sanity: the mock FS actually handled this table's traffic
    assert(NonAtomicRenameFs.renames.get() > 0)
  }

  test("a generation visible mid-copy (no _SUCCESS yet) is never read") {
    NonAtomicRenameFs.reset()
    val dir = mockDir("objstore_gate_")
    val tbl = s"$dir/t"
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 50).map(i => (i.toLong, java.sql.Date.valueOf("2024-03-01")))
      .toDF("event_id", "date")
    TableStore.append(df, tbl)
    assert(TableStore.read(spark, tbl).count() === 50)

    // simulate the copy phase of a non-atomic publish: g1 exists and even
    // holds data files, but its _SUCCESS has not landed — an object-store
    // lister WILL surface this dir to readers mid-swap
    val local = tbl.stripPrefix("mock3://")
    val g0 = Paths.get(local, "g0")
    val g1 = Paths.get(local, "g1")
    Files.createDirectories(g1)
    val dateDir = Files.createDirectories(g1.resolve("date=2024-03-01"))
    Files.list(g0.resolve("date=2024-03-01")).forEach { p =>
      if (p.getFileName.toString.endsWith(".parquet"))
        Files.copy(p, dateDir.resolve(p.getFileName))
    }
    // readers must stay on g0 — the half-copied g1 is invisible
    assert(TableStore.currentGeneration(spark, tbl).map(_._1) === Some(0))
    assert(TableStore.read(spark, tbl).count() === 50)
  }

  test("compactDates mid-publish crash on an object store re-publishes " +
      "from the committed stage") {
    NonAtomicRenameFs.reset()
    val dir = mockDir("objstore_cd_")
    val tbl = s"$dir/t"
    val spark2 = spark
    import spark2.implicits._
    def batch(off: Int) = (1 to 200).map(i =>
        ((off + i).toLong, java.sql.Date.valueOf(s"2024-03-0${i % 2 + 1}")))
      .toDF("event_id", "date")
    TableStore.append(batch(0).repartition(3), tbl)
    TableStore.compact(spark, tbl) // generational layout (g1)
    TableStore.append(batch(1000).repartition(3), tbl) // small files again
    val filesBefore = TableStore.dataFiles(spark, tbl).size

    // the publish's first partition rename dies AFTER the copy landed —
    // the S3 crash signature: dst complete, staged source never deleted
    NonAtomicRenameFs.failPathContains = "compact_stage.tmp"
    NonAtomicRenameFs.failMode = "after-copy"
    intercept[IllegalArgumentException] {
      TableStore.compactDates(spark, tbl, Seq("2024-03-01", "2024-03-02"))
    }
    NonAtomicRenameFs.reset()
    // rows are never lost in between: the generation keeps its _SUCCESS
    assert(TableStore.read(spark, tbl).count() === 400)

    // the retry finds the committed stage and finishes the publish
    TableStore.compactDates(spark, tbl, Seq("2024-03-01", "2024-03-02"))
    assert(TableStore.read(spark, tbl).count() === 400)
    assert(TableStore.read(spark, tbl).select("event_id").distinct().count()
      === 400)
    val filesAfter = TableStore.dataFiles(spark, tbl).size
    assert(filesAfter < filesBefore) // bin-pack actually landed
    // the stage is gone — nothing left to double-publish
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(
      tbl.stripPrefix("mock3://"), "compact_stage.tmp")))
  }

  test("a stage that fully published (all renames landed, delete pending) " +
      "recovers as a no-op instead of wedging compaction") {
    NonAtomicRenameFs.reset()
    val dir = mockDir("objstore_cd2_")
    val tbl = s"$dir/t"
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 200).map(i =>
        (i.toLong, java.sql.Date.valueOf(s"2024-03-0${i % 2 + 1}")))
      .toDF("event_id", "date")
    TableStore.append(df.repartition(3), tbl)
    TableStore.compact(spark, tbl)
    // manufacture the LAST crash window of a compactDates publish: every
    // partition rename landed (the stage holds no date= dirs any more) but
    // the stage itself — _SUCCESS included — was never deleted
    val stale = Paths.get(tbl.stripPrefix("mock3://"), "compact_stage.tmp")
    Files.createDirectories(stale)
    Files.createFile(stale.resolve("_SUCCESS"))
    // the next tick's recoverStage must treat this as already-published
    // (nothing left to rename) and then run its own compaction normally
    TableStore.compactDates(spark, tbl, Seq("2024-03-01", "2024-03-02"))
    assert(!Files.exists(stale))
    assert(TableStore.read(spark, tbl).count() === 200)
    // pruned reads still plan over the published generation
    val pruned = TableStore.readPruned(spark, tbl,
      Seq(TableStore.ColRange("event_id", 1, 5)))
    assert(pruned.df.filter(col("event_id") <= 5).count() === 5)
  }

  test("a contended claim on the object store loses CLEANLY — the " +
    "conditional-create adjudication for _commit.lock / g<N>.claim / " +
    "date claims") {
    NonAtomicRenameFs.reset()
    val dir = mockDir("objstore_claim_")
    val tbl = s"$dir/t"
    val spark2 = spark
    import spark2.implicits._
    val df = (0 until 10).map(i =>
        (i, s"u$i", java.sql.Date.valueOf("2024-03-01")))
      .toDF("id", "user", "date")
    TableStore.append(df, tbl)

    val f = new Path(tbl).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // another writer holds the date claim, created through the store's
    // create-exclusive (the conditional-PUT stand-in — see atomicCreate's
    // deployment adjudication): a same-date merge must fail BEFORE touching
    // any file, leaving the store untorn
    val claim = new Path(tbl, "_claims/date=2024-03-01.claim")
    f.mkdirs(claim.getParent)
    f.create(claim, false).close()
    val e = intercept[TableStore.ConcurrentWriteException] {
      TableStore.merge(spark,
        df.limit(3).withColumn("user", org.apache.spark.sql.functions.lit("X")),
        tbl, Seq("id"))
    }
    assert(e.getMessage.contains("rewrite claim"))
    val back = TableStore.read(spark, tbl)
    assert(back.count() === 10)
    assert(back.filter(col("user") === "X").count() === 0)

    // a contended generation claim fails a compaction the same clean way
    val gclaim = new Path(tbl, "g1.claim")
    f.create(gclaim, false).close()
    val e2 = intercept[TableStore.ConcurrentWriteException] {
      TableStore.compact(spark, tbl)
    }
    assert(e2.getMessage.contains("holds the claim"))

    // holders release; both operations then converge on the object store
    f.delete(claim, false)
    f.delete(gclaim, false)
    TableStore.merge(spark,
      df.limit(3).withColumn("user", org.apache.spark.sql.functions.lit("X")),
      tbl, Seq("id"))
    TableStore.compact(spark, tbl)
    val after = TableStore.read(spark, tbl)
    assert(after.count() === 10)
    assert(after.filter(col("user") === "X").count() === 3)
  }

  test("ingest ticks on an object store: crash windows stay exactly-once") {
    NonAtomicRenameFs.reset()
    val dir = mockDir("objstore_tick_")
    val store = s"$dir/store"
    val mv = s"$dir/mv"
    // landing stays on the plain local FS (a separate system in production)
    val landing = tmpDir("objstore_land_")
    Files.write(Paths.get(s"$landing/2024-02-29-1.json"),
      commentLine("u1", 1).getBytes)
    val backfill = Instant.parse("2024-02-29T01:00:00Z")

    // tick 1 commits hour 1 through the mock store
    GhaPipeline.incrementalRunWithViews(spark, landing, store, mv,
      Instant.parse("2024-02-29T02:10:00Z"), backfill)
    assert(TableStore.read(spark, s"$store/comment",
      graft.schema.GhaSchemas.curated("comment")).count() === 1)

    // crash window A: the hwm marker's delete-dst-then-copy-dies shape —
    // the NEXT tick's hwm swap fails before any byte lands
    Files.write(Paths.get(s"$landing/2024-02-29-2.json"),
      commentLine("u2", 2).getBytes)
    NonAtomicRenameFs.failPathContains = "_ingest_hwm"
    NonAtomicRenameFs.failMode = "before-copy"
    intercept[java.io.IOException] {
      GhaPipeline.incrementalRunWithViews(spark, landing, store, mv,
        Instant.parse("2024-02-29T03:10:00Z"), backfill)
    }
    // the dead tick left its inflight marker; data for hour 2 is in but
    // unacknowledged. The retry must roll back and re-ingest exactly once.
    NonAtomicRenameFs.reset()
    GhaPipeline.incrementalRunWithViews(spark, landing, store, mv,
      Instant.parse("2024-02-29T03:10:00Z"), backfill)
    val spark2 = spark
    import spark2.implicits._
    assert(TableStore.read(spark, s"$store/comment",
        graft.schema.GhaSchemas.curated("comment"))
      .select("username").as[String].collect().sorted.toSeq ===
      Seq("u1", "u2"))

    // crash window B: copy landed, delete never ran (the S3 crash
    // signature) — hwm IS visible, inflight survives; recovery must notice
    // the batch committed and not double-ingest
    Files.write(Paths.get(s"$landing/2024-02-29-3.json"),
      commentLine("u3", 3).getBytes)
    NonAtomicRenameFs.failPathContains = "_ingest_hwm"
    NonAtomicRenameFs.failMode = "after-copy"
    intercept[java.io.IOException] {
      GhaPipeline.incrementalRunWithViews(spark, landing, store, mv,
        Instant.parse("2024-02-29T04:10:00Z"), backfill)
    }
    NonAtomicRenameFs.reset()
    GhaPipeline.incrementalRunWithViews(spark, landing, store, mv,
      Instant.parse("2024-02-29T04:10:00Z"), backfill)
    assert(TableStore.read(spark, s"$store/comment",
        graft.schema.GhaSchemas.curated("comment"))
      .select("username").as[String].collect().sorted.toSeq ===
      Seq("u1", "u2", "u3"))
  }
}
