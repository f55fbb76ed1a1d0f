package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** Multi-writer commit concurrency on the table log — the
  * optimistic-concurrency parity with the reference's Delta store
  * (`preprocess.py:169-175`; its `retries=10` exists because Delta REBASES
  * commits). The laws, each pinned deterministically via the
  * `beforeCommitHook` injection point (which fires between a writer's data
  * write and its log commit — exactly the window real concurrency lands
  * in):
  *
  *  - append ∥ append always commutes: both batches commit and read back;
  *  - append ∥ compact: the compaction commits at the next version and the
  *    concurrent batch stays — never lost, never doubled — and the
  *    compaction is invisible until its commit;
  *  - partition-rewrite ∥ compact, and two rewrites of one date: a TRUE
  *    conflict — whichever commits second throws, the store is untorn, and
  *    a re-run converges;
  *  - append ∥ partition-rewrite: the rewrite throws rather than drop the
  *    append's rows;
  *  - read-modify-write ∥ read-modify-write (Scd2, transactVersioned): the
  *    loser re-derives from the winner's state and commits — BOTH effects
  *    land.
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

  test("an append landing during compaction survives it; the compaction " +
    "is invisible until its commit") {
    val dir = tmpDir("cw") + "/t"
    (1 to 3).foreach(k =>
      TableStore.append(mkBatch("2024-02-01", k * 10 until k * 10 + 5), dir))
    val before = TableStore.dataFiles(spark, dir)
    val vBefore = TableStore.version(spark, dir)
    var seenInWindow = Seq.empty[String]
    TableStore.beforeCommitHook = () => {
      resetHook() // the nested append must not re-fire the hook
      // the compaction's written files must NOT be visible yet
      seenInWindow = TableStore.dataFiles(spark, dir)
      TableStore.append(mkBatch("2024-02-02", 900 until 920), dir)
    }
    try {
      val (b, a) = TableStore.compact(spark, dir)
      assert(b >= a)
    } finally resetHook()
    assert(seenInWindow === before, "compaction leaked before its commit")
    assert(TableStore.version(spark, dir) === vBefore + 2)
    // the concurrent batch is in the table: present exactly once
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
    assert(rows.getMessage.contains("removed"))
    // untorn: the version the merge left, data = post-merge state
    val back = TableStore.read(spark, dir)
    assert(back.count() === 20)
    assert(back.filter($"user".startsWith("NEW_")).count() === 5)
    // the compaction's unreferenced files do not block the re-run
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
      // a compaction commits while the rewrite is pre-commit
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
    // whichever commits second must conflict and re-derive from the
    // winner's state; a lost update would leave n at 1 or 10
    val aDerived = new java.util.concurrent.atomic.AtomicInteger()
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
    try add(1L)(() => { aDerived.incrementAndGet(); () }) finally resetHook()
    b.join(120000)
    assert(errs.isEmpty, s"transaction failed: ${Option(errs.peek())}")
    assert(aDerived.get() + bDerived.get() >= 3,
      "the losing transaction never re-derived")
    assert(TableStore.read(spark, dir).as[(String, Long)].collect().toSeq ===
      Seq(("k", 11L)))
  }

  test("disjoint-date merges run in parallel: neither conflicts and both " +
    "land") {
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

  test("same-date merges: the second committer loses cleanly, and the " +
    "retry converges — never a torn partition") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-07-01", 0 until 10), dir)
    val outerBatch = mkBatch("2024-07-01", 5 until 8).withColumn("user", lit("A"))
    TableStore.beforeCommitHook = () => {
      resetHook()
      // a same-date merge commits inside the outer merge's window
      TableStore.merge(spark,
        mkBatch("2024-07-01", 0 until 3).withColumn("user", lit("B")),
        dir, Seq("id"))
    }
    val e = try intercept[TableStore.ConcurrentWriteException] {
      TableStore.merge(spark, outerBatch, dir, Seq("id"))
    } finally resetHook()
    assert(e.getMessage.contains("removed"), e.getMessage)
    // untorn: the winner's rewrite landed whole, the loser's did not
    val back = TableStore.read(spark, dir)
    assert(back.count() === 10)
    assert(back.filter($"user" === "B").count() === 3)
    assert(back.filter($"user" === "A").count() === 0)
    // the loser re-runs against the winner's committed state: BOTH land
    TableStore.merge(spark, outerBatch, dir, Seq("id"))
    val after = TableStore.read(spark, dir)
    assert(after.count() === 10)
    assert(after.filter($"user" === "A").count() === 3)
    assert(after.filter($"user" === "B").count() === 3)
  }

  test("an append committing during a partition rewrite of its date makes " +
    "the rewrite throw instead of dropping the appended rows") {
    val dir = tmpDir("cw") + "/t"
    TableStore.append(mkBatch("2024-08-03", 0 until 5), dir)
    val upd = mkBatch("2024-08-03", 0 until 2).withColumn("user", lit("late"))
    TableStore.beforeCommitHook = () => {
      resetHook()
      TableStore.append(mkBatch("2024-08-03", 5 until 8), dir)
      // an append into another date never conflicts
      TableStore.append(mkBatch("2024-08-04", 8 until 10), dir)
    }
    val e = try intercept[TableStore.ConcurrentWriteException] {
      TableStore.merge(spark, upd, dir, Seq("id"))
    } finally resetHook()
    assert(e.getMessage.contains("2024-08-03"), e.getMessage)
    assert(TableStore.read(spark, dir).count() === 10)
    // the re-run rewrites the date with the appended rows in it
    TableStore.merge(spark, upd, dir, Seq("id"))
    val back = TableStore.read(spark, dir)
    assert(back.count() === 10)
    assert(back.filter($"user" === "late").count() === 2)
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
}
