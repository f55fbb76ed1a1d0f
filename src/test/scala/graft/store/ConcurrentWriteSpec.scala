package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** Multi-writer commit concurrency — the optimistic-concurrency parity
  * with the reference's Delta store (`preprocess.py:169-175`; its
  * `retries=10` exists because Delta REBASES commits instead of failing
  * them). The laws, each pinned deterministically via the
  * `beforeCommitHook` injection point (which fires between a writer's
  * staged data write and its locked commit — exactly the window real
  * concurrency lands in):
  *
  *  - append ∥ append always commutes: both batches commit and read back;
  *  - append ∥ compact: the compactor REBASES the concurrent batch into
  *    the new generation at its locked commit point — never lost, never
  *    doubled — and the swap stays invisible until its `_SUCCESS`;
  *  - partition-rewrite ∥ compact: a TRUE conflict — the compactor aborts
  *    cleanly (store untorn) and a re-run converges;
  *  - generation swap ∥ partition-rewrite: the rewriter detects its files
  *    went to a superseded generation, throws, and an idempotent re-run
  *    converges;
  *  - read-modify-write ∥ read-modify-write (Scd2): the loser re-derives
  *    from the winner's state and commits — BOTH effects land;
  *  - a stale `expectedGen` fails BEFORE any data is written (CAS);
  *  - a dead committer's `_commit.lock` expires by age.
  */
class ConcurrentWriteSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._


  private def mkBatch(day: String, ids: Range) =
    ids.map(i => (i, s"u$i", java.sql.Date.valueOf(day)))
      .toDF("id", "user", "date")

  private def resetHook(): Unit = TableStore.beforeCommitHook = () => ()

  test("two overlapping appenders both commit; both batches read back") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-01-01", 0 until 5), dir) // settle g0
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(
      ("2024-01-01", 100 until 150), ("2024-01-02", 200 until 270)).map {
      case (d, ids) => new Thread(() =>
        try TableStore.append(mkBatch(d, ids), dir)
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"appender failed: ${Option(errs.peek())}")
    val back = TableStore.read(spark, dir)
    assert(back.count() === 5 + 50 + 70)
    assert(back.filter($"id" >= 100 && $"id" < 150).count() === 50)
    assert(back.filter($"id" >= 200).count() === 70)
  }

  test("an append landing during compaction is rebased into the new " +
    "generation; the swap is invisible until its _SUCCESS") {
    val dir = tmpDir("cw") + "/t"
    (1 to 3).foreach(k =>
      TableStore.append(mkBatch("2024-02-01", k * 10 until k * 10 + 5), dir))
    val genBefore = TableStore.currentGenNumber(spark, dir)
    var genSeenInWindow = -2
    TableStore.beforeCommitHook = () => {
      resetHook() // the nested append must not re-fire the hook
      // the compactor's staged generation must NOT be visible yet
      genSeenInWindow = TableStore.currentGenNumber(spark, dir)
      TableStore.append(mkBatch("2024-02-02", 900 until 920), dir)
    }
    try {
      val (before, after) = TableStore.compact(spark, dir)
      assert(before >= after)
    } finally resetHook()
    assert(genSeenInWindow === genBefore,
      "staged generation leaked before its commit point")
    assert(TableStore.currentGenNumber(spark, dir) === genBefore + 1)
    // the concurrent batch is IN the new generation: present exactly once
    val back = TableStore.read(spark, dir)
    assert(back.count() === 15 + 20)
    assert(back.filter($"id" >= 900).count() === 20)
    // and survives the NEXT compaction (it is real data, not a ghost)
    TableStore.compact(spark, dir)
    assert(TableStore.read(spark, dir).count() === 35)
  }

  test("a partition rewrite during compaction is a true conflict: the " +
    "compactor aborts cleanly and a re-run converges") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-03-01", 0 until 10), dir)
    TableStore.append(mkBatch("2024-03-02", 10 until 20), dir)
    TableStore.beforeCommitHook = () => {
      resetHook()
      // rewrite 03-01 mid-compaction (merge semantics: replace ids 0-4)
      TableStore.merge(spark,
        mkBatch("2024-03-01", 0 until 5)
          .withColumn("user", concat(lit("NEW_"), col("user"))),
        dir, Seq("id"))
    }
    val rows =
      try intercept[TableStore.ConcurrentWriteException] {
        TableStore.compact(spark, dir)
      } finally resetHook()
    assert(rows.getMessage.contains("rewritten during"))
    // untorn: same generation as the merge left, data = post-merge state
    val back = TableStore.read(spark, dir)
    assert(back.count() === 20)
    assert(back.filter($"user".startsWith("NEW_")).count() === 5)
    // no uncommitted-generation debris blocks the re-run
    val (b2, a2) = TableStore.compact(spark, dir)
    assert(b2 >= a2)
    assert(TableStore.read(spark, dir).count() === 20)
    assert(TableStore.read(spark, dir)
      .filter($"user".startsWith("NEW_")).count() === 5)
  }

  test("a generation swap during a partition rewrite throws; the " +
    "idempotent re-run converges") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-04-01", 0 until 10), dir)
    val upd = mkBatch("2024-04-01", 0 until 3)
      .withColumn("user", lit("rewritten"))
    TableStore.beforeCommitHook = () => {
      resetHook()
      // a compaction swaps generations while the rewrite is pre-commit
      TableStore.compact(spark, dir)
    }
    try intercept[TableStore.ConcurrentWriteException] {
      TableStore.merge(spark, upd, dir, Seq("id"))
    } finally resetHook()
    // re-run against the new generation converges
    TableStore.merge(spark, upd, dir, Seq("id"))
    val back = TableStore.read(spark, dir)
    assert(back.count() === 10)
    assert(back.filter($"user" === "rewritten").count() === 3)
  }

  test("two overlapping SCD2 appliers both commit (optimistic retry — " +
    "the reference's Delta retries=10 loop)") {
    val dir = tmpDir("cw") + "/dim"
    Scd2.init(Seq((1L, "gold"), (2L, "silver"), (3L, "bronze"))
      .toDF("id", "tier"), dir, java.sql.Date.valueOf("2024-01-01"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    // DISJOINT batches (each names only the key it changes — a batch that
    // restated other keys would legitimately re-assert their old values
    // over the winner's update under serial semantics): the loser
    // re-derives from the winner's committed state and retries, so BOTH
    // updates land whichever order the race resolves to
    val threads = Seq(
      Seq((1L, "platinum")), Seq((3L, "iron"))).map { rows =>
      new Thread(() =>
        try Scd2.apply(spark, dir, rows.toDF("id", "tier"), Seq("id"),
          java.sql.Date.valueOf("2024-02-01"))
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    assert(errs.isEmpty, s"applier failed: ${Option(errs.peek())}")
    val cur = Scd2.current(spark, dir)
      .select("id", "tier").as[(Long, String)].collect().toMap
    assert(cur === Map(1L -> "platinum", 2L -> "silver", 3L -> "iron"))
    // interval integrity survived the race: one open version per key
    val open = TableStore.read(spark, dir)
      .filter(col("valid_to").isNull).groupBy("id").count()
      .as[(Long, Long)].collect().toMap
    assert(open.values.forall(_ === 1L), s"torn dimension: $open")
  }

  test("two read-modify-write transactions racing one table lose neither " +
    "update (transactVersioned re-derives on CAS conflict)") {
    val dir = tmpDir("cw") + "/counts"
    TableStore.overwriteVersioned(Seq(("k", 0L)).toDF("key", "n"), dir)
    def add(delta: Long)(derived: () => Unit): Unit =
      TableStore.transactVersioned(spark, dir) {
        derived()
        TableStore.read(spark, dir).select($"key", ($"n" + delta).as("n"))
      }
    // B derives from the same base as A inside A's pre-commit window, so
    // its first commit must lose the CAS and its retry must re-derive from
    // A's committed state; a lost update would leave n at 1 or 10
    val bDerived = new java.util.concurrent.atomic.AtomicInteger()
    val bFirstRead = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val b = new Thread(() =>
      try add(10L) { () => bDerived.incrementAndGet(); bFirstRead.countDown() }
      catch { case t: Throwable => errs.add(t) })
    TableStore.beforeCommitHook = () => {
      resetHook()
      b.start()
      assert(bFirstRead.await(60, java.util.concurrent.TimeUnit.SECONDS))
    }
    try add(1L)(() => ()) finally resetHook()
    b.join(120000)
    assert(errs.isEmpty, s"transaction failed: ${Option(errs.peek())}")
    assert(bDerived.get() >= 2, "the losing transaction never re-derived")
    assert(TableStore.read(spark, dir).as[(String, Long)].collect().toSeq ===
      Seq(("k", 11L)))
  }

  test("disjoint-date merges run in parallel: per-date claims do not " +
    "serialize them and both land") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-06-01", 0 until 10), dir)
    TableStore.append(mkBatch("2024-06-02", 10 until 20), dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(
      ("2024-06-01", 0 until 5, "m1"), ("2024-06-02", 10 until 15, "m2")).map {
      case (d, ids, tag) => new Thread(() =>
        try TableStore.merge(spark,
          mkBatch(d, ids).withColumn("user", lit(tag)), dir, Seq("id"))
        catch { case t: Throwable => errs.add(t) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(180000))
    assert(errs.isEmpty, s"disjoint-date merge failed: ${Option(errs.peek())}")
    val back = TableStore.read(spark, dir)
    assert(back.count() === 20)
    assert(back.filter($"user" === "m1").count() === 5)
    assert(back.filter($"user" === "m2").count() === 5)
  }

  test("same-date merges: one clean winner, one clean claim-loser, and the " +
    "retry converges — never a torn partition") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-07-01", 0 until 10), dir)
    val loserBatch = mkBatch("2024-07-01", 0 until 3)
      .withColumn("user", lit("B"))
    var loserErr: Throwable = null
    TableStore.beforeCommitHook = () => {
      resetHook()
      // the winner holds the date claim through its whole rewrite window —
      // a same-date merge landing inside it must lose CLEANLY, before
      // touching any file
      loserErr = intercept[TableStore.ConcurrentWriteException] {
        TableStore.merge(spark, loserBatch, dir, Seq("id"))
      }
    }
    try TableStore.merge(spark,
      mkBatch("2024-07-01", 5 until 8).withColumn("user", lit("A")),
      dir, Seq("id"))
    finally resetHook()
    assert(loserErr != null &&
      loserErr.getMessage.contains("rewrite claim"), s"got: $loserErr")
    // untorn: the winner's rewrite landed whole, the loser wrote nothing
    val back = TableStore.read(spark, dir)
    assert(back.count() === 10)
    assert(back.filter($"user" === "A").count() === 3)
    assert(back.filter($"user" === "B").count() === 0)
    // the loser re-runs against the winner's committed state: BOTH land
    TableStore.merge(spark, loserBatch, dir, Seq("id"))
    val after = TableStore.read(spark, dir)
    assert(after.count() === 10)
    assert(after.filter($"user" === "A").count() === 3)
    assert(after.filter($"user" === "B").count() === 3)
  }

  test("a dead rewriter's date claim expires by age") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-08-01", 0 until 5), dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(dir, "_claims/date=2024-08-01.claim")
    f.mkdirs(claim.getParent)
    f.create(claim, false).close()
    f.setTimes(claim, System.currentTimeMillis - 31L * 60 * 1000, -1)
    TableStore.merge(spark,
      mkBatch("2024-08-01", 0 until 2).withColumn("user", lit("late")),
      dir, Seq("id"))
    assert(TableStore.read(spark, dir)
      .filter($"user" === "late").count() === 2)
    assert(!f.exists(claim), "the winning merge must release the claim")
  }

  test("claim expiry is one-deleter arbitrated: a contender that lost the " +
    "expiry marker race never deletes the claim (the check-then-delete " +
    "TOCTOU is closed)") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-08-02", 0 until 5), dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new org.apache.hadoop.fs.Path(dir,
      "_claims/date=2024-08-02.claim")
    f.mkdirs(claim.getParent)
    f.create(claim, false).close()
    f.setTimes(claim, System.currentTimeMillis - 31L * 60 * 1000, -1)
    val m = f.getFileStatus(claim).getModificationTime
    // another contender already won the delete arbitration for this stale
    // incarnation (fresh marker): this writer must NOT delete — in the
    // naive check-then-delete protocol it would remove the winner's
    // freshly re-created claim and BOTH would hold the date
    val marker = new org.apache.hadoop.fs.Path(dir,
      s"_claims/date=2024-08-02.claim.exp$m")
    f.create(marker, false).close()
    intercept[TableStore.ConcurrentWriteException] {
      TableStore.merge(spark,
        mkBatch("2024-08-02", 0 until 2).withColumn("user", lit("late")),
        dir, Seq("id"))
    }
    assert(f.exists(claim),
      "the losing contender deleted a claim it did not arbitrate")
    f.delete(marker, false)
    // with the marker gone the expiry proceeds normally and the merge wins
    TableStore.merge(spark,
      mkBatch("2024-08-02", 0 until 2).withColumn("user", lit("late")),
      dir, Seq("id"))
    assert(TableStore.read(spark, dir)
      .filter($"user" === "late").count() === 2)
    // the winner released both the claim and its arbitration marker
    val leftover = f.listStatus(claim.getParent)
      .map(_.getPath.getName).filter(_.contains(".exp"))
    assert(leftover.isEmpty, s"arbitration debris left: ${leftover.toSeq}")
  }

  test("an append racing a live partition rewrite backs off at its commit " +
    "point instead of having its files silently deleted by the overwrite") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-08-03", 0 until 5), dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a rewriter mid-window: its date claim is live
    val claim = TableStore.dateClaimPath(dir, "2024-08-03")
    f.mkdirs(claim.getParent)
    f.create(claim, false).close()
    intercept[TableStore.ConcurrentWriteException] {
      TableStore.append(mkBatch("2024-08-03", 5 until 8), dir)
    }
    // the backed-off attempt reclaims its staged batch copy: the re-run
    // stages under a fresh uuid, so leftovers would leak one full batch
    // of invisible disk debris per back-off
    val staging = new org.apache.hadoop.fs.Path(s"$dir/.staging")
    assert(!f.exists(staging) || f.listStatus(staging).isEmpty,
      "backed-off append leaked its staging dir")
    // an UNclaimed date commits freely in the same window
    TableStore.append(mkBatch("2024-08-04", 8 until 10), dir)
    assert(TableStore.read(spark, dir).count() === 7)
    // rewrite commits, claim released: the append re-run lands
    f.delete(claim, false)
    TableStore.append(mkBatch("2024-08-03", 5 until 8), dir)
    assert(TableStore.read(spark, dir).count() === 10)
  }

  test("merge rejects a batch narrower than the table instead of " +
    "silently dropping columns from rewritten partitions") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-08-05", 0 until 5), dir)
    val narrow = Seq((1, java.sql.Date.valueOf("2024-08-05")))
      .toDF("id", "date")
    val e = intercept[IllegalArgumentException] {
      TableStore.merge(spark, narrow, dir, Seq("id"))
    }
    assert(e.getMessage.contains("missing=user"))
    // table untouched: all 5 rows still carry user
    val t = TableStore.read(spark, dir)
    assert(t.count() === 5 && t.filter($"user".isNull).count() === 0)
  }

  test("stage recovery never resurrects a partition rewritten after the " +
    "crash; a partition whose only copy is staged IS restored") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-09-01", 0 until 6), dir)
    TableStore.append(mkBatch("2024-09-02", 6 until 12), dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = new org.apache.hadoop.fs.Path(
      TableStore.resolveDataDir(spark, dir))
    // fabricate a COMMITTED crashed stage holding pre-crash copies of
    // both dates (what compactDates leaves when it dies mid-publish)
    val stage = new org.apache.hadoop.fs.Path(dir, "compact_stage.tmp")
    for (d <- Seq("2024-09-01", "2024-09-02")) {
      val src = new org.apache.hadoop.fs.Path(gen, s"date=$d")
      org.apache.hadoop.fs.FileUtil.copy(f, src, f,
        new org.apache.hadoop.fs.Path(stage, s"date=$d"), false,
        spark.sparkContext.hadoopConfiguration)
    }
    f.create(new org.apache.hadoop.fs.Path(stage, "_SUCCESS"), true).close()
    // post-crash: a deleteWhere rewrites date=2024-09-01 (GDPR erasure)...
    TableStore.deleteWhere(spark, dir, $"id" === 0)
    // ...and date=2024-09-02 crashed INSIDE the delete->rename window:
    // its generation copy is gone, sole copy in the stage
    f.delete(new org.apache.hadoop.fs.Path(gen, "date=2024-09-02"), true)
    // next compactDates triggers recovery
    TableStore.compactDates(spark, dir, Seq("2024-09-01"))
    val t = TableStore.read(spark, dir)
    assert(t.filter($"id" === 0).count() === 0,
      "stale stage resurrected rows a later rewrite deleted")
    assert(t.filter($"date" === "2024-09-02").count() === 6,
      "partition stranded in the crashed stage was not restored")
    assert(!f.exists(stage), "recovery must consume the stage")
  }

  test("a stale expectedGen fails the CAS before any data is written") {
    val dir = tmpDir("cw") + "/t"
    val df = Seq((1, "a")).toDF("k", "v")
    TableStore.overwriteVersioned(df, dir) // g0
    TableStore.overwriteVersioned(df, dir) // g1
    val e = intercept[TableStore.ConcurrentWriteException] {
      TableStore.overwriteVersioned(df, dir, expectedGen = 0)
    }
    assert(e.getMessage.contains("moved to g1"))
    // nothing was staged or committed past g1
    assert(Generations.list(spark, dir).max === 1)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!f.exists(new org.apache.hadoop.fs.Path(dir, "g2")))
  }

  test("a dead committer's _commit.lock expires by age") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-05-01", 0 until 5), dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lock = new org.apache.hadoop.fs.Path(dir, "_commit.lock")
    f.create(lock, false).close()
    // age the lock past the default staleness window
    f.setTimes(lock, System.currentTimeMillis - 31L * 60 * 1000, -1)
    TableStore.append(mkBatch("2024-05-01", 5 until 10), dir)
    assert(TableStore.read(spark, dir).count() === 10)
    assert(!f.exists(lock), "the publishing appender must release the lock")
  }
}
