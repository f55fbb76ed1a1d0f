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
  * TableStore never renames (its commit is a put-if-absent log version),
  * and GhaPipeline's marker swaps survive rename crash windows, so the
  * same code drives `s3a://` via `CloudStorage.applyS3FromEnv` without a
  * correctness cliff.
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

  test("append, merge, compactDates, compact and overwriteVersioned make " +
    "zero renames on an object store") {
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
    TableStore.merge(spark, df.filter($"event_id" <= 3)
      .withColumn("value", lit(-1.0)), tbl, Seq("event_id"))
    assert(TableStore.read(spark, tbl).count() === 800 - 3)
    val (b1, a1) = TableStore.compactDates(spark, tbl, Seq("2024-03-01"))
    assert(b1 > a1)
    val (before, after) = TableStore.compact(spark, tbl)
    assert(before > after)
    assert(TableStore.read(spark, tbl).count() === 797)

    // pruned read plans from the compacted version's footers
    val pruned = TableStore.readPruned(spark, tbl,
      Seq(TableStore.ColRange("user_id", 2, 2)))
    assert(pruned.df.filter(col("user_id") === 2).count() ===
      TableStore.read(spark, tbl).filter(col("user_id") === 2).count())
    val counts = s"$dir/counts"
    TableStore.overwriteVersioned(Seq(("a", 1L)).toDF("k", "n"), counts)
    TableStore.overwriteVersioned(Seq(("a", 2L)).toDF("k", "n"), counts)
    assert(TableStore.read(spark, counts).as[(String, Long)].collect().toSeq ===
      Seq(("a", 2L)))
    assert(NonAtomicRenameFs.renames.get() === 0)
  }

  test("data files written but not yet committed are never read") {
    NonAtomicRenameFs.reset()
    val dir = mockDir("objstore_gate_")
    val tbl = s"$dir/t"
    val spark2 = spark
    import spark2.implicits._
    val df = (1 to 50).map(i => (i.toLong, java.sql.Date.valueOf("2024-03-01")))
      .toDF("event_id", "date")
    TableStore.append(df, tbl)
    val files = TableStore.dataFiles(spark, tbl)
    assert(TableStore.read(spark, tbl).count() === 50)

    // another writer's data files have landed in the date= dir, where an
    // object-store lister WILL surface them, but no log version names them
    val dateDir = Paths.get(tbl.stripPrefix("mock3://"), "date=2024-03-01")
    Files.list(dateDir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => Files.copy(p, dateDir.resolve("uncommitted-" + p.getFileName)))
    // readers stay on the committed version: the stray files are invisible
    assert(TableStore.dataFiles(spark, tbl) === files)
    assert(TableStore.read(spark, tbl).count() === 50)
  }

  test("an object-store compactDates that dies uncommitted is retried") {
    NonAtomicRenameFs.reset()
    val dir = mockDir("objstore_cd_")
    val tbl = s"$dir/t"
    val spark2 = spark
    import spark2.implicits._
    def batch(off: Int) = (1 to 200).map(i =>
        ((off + i).toLong, java.sql.Date.valueOf(s"2024-03-0${i % 2 + 1}")))
      .toDF("event_id", "date")
    TableStore.append(batch(0).repartition(3), tbl)
    TableStore.append(batch(1000).repartition(3), tbl)
    val files = TableStore.dataFiles(spark, tbl)
    // the writer dies after its files landed in the date= dirs an
    // object-store lister would surface, before its log version exists
    TableStore.beforeCommitHook = () => throw new RuntimeException("killed")
    try intercept[RuntimeException] {
      TableStore.compactDates(spark, tbl, Seq("2024-03-01", "2024-03-02"))
    } finally TableStore.beforeCommitHook = () => ()
    assert(TableStore.dataFiles(spark, tbl) === files)
    assert(TableStore.read(spark, tbl).count() === 400)
    // the retry compacts; rows are never lost or doubled in between
    TableStore.compactDates(spark, tbl, Seq("2024-03-01", "2024-03-02"))
    assert(TableStore.read(spark, tbl).select("event_id").distinct().count()
      === 400)
    assert(TableStore.dataFiles(spark, tbl).size < files.size)
  }

  test("a contended log version on the object store: a conflicting winner " +
    "fails the writer CLEANLY, a harmless one is committed past") {
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
    val v = TableStore.version(spark, tbl)
    def logFile(n: Long) = new Path(tbl, f"_log/$n%020d.json")
    val file = TableStore.snapshot(spark, tbl).files.keys.head
    def winner(line: String): () => Unit = () => {
      TableStore.beforeCommitHook = () => ()
      val out = f.create(logFile(v + 1), false)
      try out.write((line + "\n").getBytes("UTF-8")) finally out.close()
    }
    val upd = df.limit(3).withColumn("user", lit("X"))
    // another writer takes the next version (through the store's
    // create-exclusive, the conditional-PUT stand-in) removing the file
    // this merge rewrites: the merge must fail and add nothing
    TableStore.beforeCommitHook = winner(s"""{"remove":{"path":"$file"}}""")
    val e = try intercept[TableStore.ConcurrentWriteException] {
      TableStore.merge(spark, upd, tbl, Seq("id"))
    } finally TableStore.beforeCommitHook = () => ()
    assert(e.getMessage.contains("removed"))
    assert(TableStore.version(spark, tbl) === v + 1)
    // a winner touching nothing this writer touches is committed past
    f.delete(logFile(v + 1), false)
    TableStore.beforeCommitHook = winner("""{"op":"other"}""")
    try TableStore.merge(spark, upd, tbl, Seq("id"))
    finally TableStore.beforeCommitHook = () => ()
    val after = TableStore.read(spark, tbl)
    assert(TableStore.version(spark, tbl) === v + 2)
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
