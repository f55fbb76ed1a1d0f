package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{array, col, concat, concat_ws, lit, size, sum, when}
import org.apache.spark.sql.types.{DataType, StructType}

/** Date-partitioned Parquet table store (S4/S6/S7/S8/S9 in SURVEY.md §2.1).
  *
  * The reference stores curated tables in Delta Lake — append per hourly
  * batch, partitioned by `date`, with periodic `optimize.compact()` +
  * `vacuum()` (`/root/reference/preprocess.py:165-206`). No Delta jars ship
  * with this Spark, so the same operational surface is provided over plain
  * partitioned Parquet:
  *
  *  - append/overwrite writers partitioned by `date` — partition pruning on
  *    any date-bounded query is free (`PartitioningAwareFileIndex`);
  *  - compaction = read → bin-pack each date to ~target-sized files →
  *    write into a NEW generation directory (the Spark-native analog of
  *    Delta OPTIMIZE);
  *  - vacuum = removal of generations older than the previous one.
  *
  * Generations replace the Delta tx log's snapshot isolation for the one
  * race the single-writer model still has — a reader listing the table while
  * compaction swaps it. Data lives under `dir/g<N>/date=.../part-*.parquet`;
  * the current generation is the highest `g<N>` containing `_SUCCESS` (which
  * the Spark committer writes LAST, so a new generation becomes visible
  * atomically at commit). Readers resolve the generation once per read plan;
  * compaction keeps the previous generation alive until the NEXT compaction,
  * so an in-flight reader's file list stays valid across one full swap —
  * stronger than the reference's `vacuum(retention_hours=0)`
  * (`preprocess.py:205`), which deletes the files a concurrent reader may
  * still be scanning.
  *
  * MULTI-WRITER commit protocol (the optimistic-concurrency parity with
  * the reference's Delta store — `preprocess.py:169-175` gets conflict
  * detection from the tx log, `retries=10` at `:261` exists because Delta
  * REBASES commits). Data writes are long and lock-free; only the COMMIT
  * POINT (metadata renames + the `_SUCCESS` marker) serializes, under a
  * create-exclusive `_commit.lock` held for milliseconds:
  *
  *  - [[append]] stages its batch outside the table ( `dir/.staging/` ),
  *    then under the lock renames the files into the CURRENT generation —
  *    two concurrent appenders both commit (append ∥ append always
  *    commutes, Delta's rule), and an append racing a compaction lands in
  *    whichever generation is current at ITS commit point, never a dead one.
  *  - [[compact]]/[[overwriteVersioned]] claim the next generation number
  *    (create-exclusive `g<N>.claim` — serializes generation producers,
  *    fail-fast for overlapping compactions), write the new generation
  *    WITHOUT its `_SUCCESS`, then under the lock REBASE concurrent
  *    appends (files that appeared in the source since the snapshot are
  *    copied in — compact only; a blind overwrite replaces them by
  *    definition) and commit by creating `_SUCCESS` (atomic visibility).
  *    A file REWRITTEN during compaction (merge/delete raced it) is a true
  *    conflict: compaction aborts cleanly and can re-run.
  *  - Read-modify-write callers ([[Scd2]], incremental views) use
  *    [[transactVersioned]]: [[overwriteVersioned]]'s `expectedGen` CAS
  *    fails the commit when the base generation moved, and the caller
  *    re-derives from the new state and retries — exactly Delta's
  *    optimistic-transaction loop.
  *  - In-place partition rewrites ([[upsertPartitions]] and the ops built
  *    on it) verify under the lock that the generation did not advance
  *    during their write; if a compaction swapped mid-write they throw
  *    [[ConcurrentWriteException]] (their files went to the superseded
  *    generation) and the idempotent caller re-runs against the new one.
  *
  * Readers needing append atomicity across a multi-table tick still read
  * behind the ingest high-water marker (`GhaPipeline`), which advances
  * only after the whole batch commits. Pre-generation flat layouts
  * (`dir/date=...`) remain readable and appendable; their first compaction
  * migrates them to `g0`. On rename-less object stores the staged-append
  * publish degrades to copy (O(batch), never O(table)); `create(path,
  * overwrite=false)` must be atomic (S3 If-None-Match PUT / GCS
  * preconditions), the same primitive the generation claim already needs.
  */
object TableStore {

  /** A second writer holds the claim on the generation this writer needed.
    * The loser fails CLEANLY before touching any file — the store is never
    * torn by an overlapping tick + backfill (the optimistic-concurrency
    * analog of a Delta commit conflict, `preprocess.py:169-175`).
    */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  private[store] def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[store] val GenName = "^g(\\d+)$".r

  /** TRULY atomic create-exclusive — the primitive every claim/lock here
    * stands on (`_commit.lock`, `g<N>.claim`, `_claims/date=*.claim`).
    * Hadoop's local `create(p, overwrite = false)` is check-then-act (two
    * racing writers can BOTH win and then clobber one another's
    * generation); `O_CREAT|O_EXCL` via nio is the kernel-atomic form.
    *
    * DEPLOYMENT ADJUDICATION (what "atomic" means per store — the S3
    * story, pinned by `ObjectStoreSemanticsSpec`'s contended-claim test):
    *
    *  - `file:` — nio `O_CREAT|O_EXCL`, kernel-atomic (this branch);
    *  - HDFS — `FileSystem.create(p, overwrite=false)` is namenode-atomic;
    *  - S3 via s3a — atomic ONLY with conditional writes enabled
    *    (`fs.s3a.create.conditional.enabled`, Hadoop ≥ 3.4.1 binding
    *    create-no-overwrite to an `If-None-Match: *` PUT — S3 supports the
    *    precondition natively since 2024-11); GCS and ABFS have the
    *    equivalent preconditions/lease. This is the REQUIRED mode for
    *    multi-writer tables on S3.
    *  - S3 WITHOUT conditional writes — `create(p, false)` degrades to
    *    check-then-act over eventually-listed objects: two writers can both
    *    "win" a claim. The documented mode there is SINGLE WRITER PER TABLE
    *    PREFIX (the reference's own deployment shape — one Prefect flow per
    *    store, `preprocess.py:258,277-280`); the claims still serialize
    *    same-process writers and still expire stale crashes, they just stop
    *    being a cross-process guarantee. Delta solves the same gap with an
    *    external LogStore (DynamoDB) — out of scope here by design.
    */
  private def atomicCreate(f: FileSystem, p: Path): Boolean = {
    if (f.getUri.getScheme == "file") {
      val local = new java.io.File(f.makeQualified(p).toUri.getPath)
      val parent = local.getParentFile
      if (parent != null) parent.mkdirs()
      try { java.nio.file.Files.createFile(local.toPath); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    } else {
      try { f.create(p, false).close(); true }
      catch { case _: java.io.IOException => false }
    }
  }

  /** Atomically claim the right to write generation `n` via a create-
    * exclusive lock file (`g<n>.claim`). Generation writers claim BEFORE
    * touching anything; the claim is removed on commit and reclaimed by
    * age when a claimant crashed mid-write (`staleMs` — the standard
    * lock-file staleness escape; a crashed writer blocks retries only
    * until the timeout). Returns false when another live writer holds it.
    */
  private def claimGeneration(f: FileSystem, dir: String, n: Int,
      staleMs: Long): Boolean = {
    val p = new Path(dir, s"g$n.claim")
    expireStaleClaim(f, p, staleMs)
    atomicCreate(f, p)
  }

  /** Expire a stale claim with ONE-DELETER arbitration, closing the
    * check-then-delete TOCTOU of the naive form: two contenders that both
    * observed the same expired claim could interleave so the second's
    * delete removed the first's freshly created claim — BOTH would then
    * hold it, reopening exactly the lost-update window claims exist to
    * close. Protocol, built only on the create-exclusive + delete
    * primitives the store already assumes:
    *
    *  1. contenders that saw the stale incarnation (modtime M) race a
    *     create-exclusive marker keyed by M (`<claim>.exp<M>`) — exactly
    *     one wins the right to delete this incarnation;
    *  2. the winner re-checks the claim still carries modtime M before
    *     deleting (a fresh claim re-created meanwhile is never touched),
    *     then releases the marker; losers skip straight to their
    *     `atomicCreate`, which correctly fails against whoever claimed
    *     first.
    *
    * A crashed winner leaves its marker; the marker itself expires by age
    * (step 0), and duplicate winners after THAT are still modtime-gated in
    * step 2, so the residual window needs a crashed winner + marker expiry
    * + two new contenders landing inside one stat-to-delete microsecond —
    * against the naive form's any-two-contenders. Perfect closure needs a
    * conditional primitive (the S3 `If-None-Match` adjudication in the
    * object-store note above).
    */
  private def expireStaleClaim(f: FileSystem, p: Path, staleMs: Long): Unit = {
    val m = try {
      val st = f.getFileStatus(p)
      if (System.currentTimeMillis - st.getModificationTime <= staleMs) return
      st.getModificationTime
    } catch {
      case _: java.io.FileNotFoundException =>
        // no claim to expire — sweep any orphaned arbitration markers a
        // winner that crashed between its delete and its finally left
        // behind (keyed by a modtime that will never recur, so nothing
        // else ever deletes them)
        try f.listStatus(p.getParent).foreach { s =>
          if (s.getPath.getName.startsWith(s"${p.getName}.exp") &&
              System.currentTimeMillis - s.getModificationTime > staleMs)
            f.delete(s.getPath, false)
        } catch { case _: java.io.FileNotFoundException => () }
        return
    }
    val marker = new Path(p.getParent, s"${p.getName}.exp$m")
    try {
      val mst = f.getFileStatus(marker)
      if (System.currentTimeMillis - mst.getModificationTime > staleMs)
        f.delete(marker, false) // crashed winner's debris
    } catch { case _: java.io.FileNotFoundException => () }
    if (!atomicCreate(f, marker)) return // another contender owns the delete
    try {
      val cur = try Some(f.getFileStatus(p).getModificationTime)
        catch { case _: java.io.FileNotFoundException => None }
      if (cur.contains(m)) f.delete(p, false)
    } finally f.delete(marker, false)
  }

  private def releaseClaim(f: FileSystem, dir: String, n: Int): Unit =
    f.delete(new Path(dir, s"g$n.claim"), false)

  /** Sentinel for [[overwriteVersioned]]'s `expectedGen`: skip the CAS
    * check (blind overwrite — last writer wins, Delta's semantics for a
    * write that read nothing).
    */
  val CasUnchecked: Int = Int.MinValue

  /** Current generation NUMBER; -1 for fresh/legacy-flat tables (the CAS
    * base a read-modify-write caller passes back as `expectedGen`).
    */
  def currentGenNumber(spark: SparkSession, dir: String): Int =
    currentGeneration(spark, dir).map(_._1).getOrElse(-1)

  /** Test hook: runs after a generation writer finishes its staged data
    * write and before it enters the commit critical section — the window
    * concurrent appends and commits land in. Production no-op.
    */
  private[store] var beforeCommitHook: () => Unit = () => ()

  /** Table-level commit mutex — serializes COMMIT POINTS only (metadata
    * renames, marker creation), never data writes, so it is held for
    * milliseconds. Create-exclusive `_commit.lock` with stale-age expiry
    * (a crashed committer blocks others only until `staleMs`); waiters
    * poll briefly and fail loudly rather than queueing forever.
    */
  private def withCommitLock[T](f: FileSystem, dir: String,
      staleMs: Long)(body: => T): T = {
    val p = new Path(dir, "_commit.lock")
    f.mkdirs(new Path(dir))
    val deadline = System.currentTimeMillis + math.min(staleMs, 120000L)
    var held = false
    while (!held) {
      // one-deleter arbitrated expiry (see expireStaleClaim) — the naive
      // check-then-delete here had the same TOCTOU as the claims: two
      // waiters observing the same stale lock could interleave so the
      // second's delete removed the first's FRESH lock and both entered
      // the commit critical section
      expireStaleClaim(f, p, staleMs)
      if (atomicCreate(f, p)) held = true
      else {
        if (System.currentTimeMillis > deadline)
          throw new ConcurrentWriteException(
            s"timed out waiting for the commit lock on $dir")
        Thread.sleep(25)
      }
    }
    try body finally f.delete(p, false)
  }

  /** Claim the next generation number with the committed-behind-us check:
    * between resolving `cur + 1` and creating the claim, the racing winner
    * may have committed that very number AND released its claim — writing
    * into a committed generation would corrupt it, so re-resolve under the
    * claim and move up. With `expectedGen` set (read-modify-write), a base
    * that moved fails the CAS here, BEFORE the expensive data write.
    */
  private def claimNextGeneration(spark: SparkSession, f: FileSystem,
      dir: String, staleMs: Long, expectedGen: Int): Int = {
    var spins = 0
    while (true) {
      val cur = currentGenNumber(spark, dir)
      if (expectedGen != CasUnchecked && cur != expectedGen)
        throw new ConcurrentWriteException(
          s"$dir moved to g$cur since this writer read g$expectedGen — " +
            "re-derive from the current state and retry (transactVersioned)")
      val n = cur + 1
      if (!claimGeneration(f, dir, n, staleMs))
        throw new ConcurrentWriteException(
          s"another writer holds the claim for $dir/g$n " +
            s"(stale claims expire after ${staleMs}ms)")
      if (currentGenNumber(spark, dir) == n - 1) return n
      releaseClaim(f, dir, n)
      spins += 1
      if (spins > 8) throw new ConcurrentWriteException(
        s"$dir: generations advancing faster than this writer can claim")
    }
    -1 // unreachable
  }

  /** Per-date rewrite claims — the same-date conflict detection partition
    * rewriters need BEYOND the commit lock. The commit lock serializes
    * commit points (milliseconds); it cannot see that two merges both read
    * the same base slice of `date=D` and are about to publish independent
    * rewrites of it — the second commit would silently drop the first's
    * rows (a classic lost update). A rewriter therefore claims every date
    * it will rewrite via create-exclusive `_claims/date=<d>.claim` files
    * held across its whole read→rewrite→commit window:
    *
    *  - DISJOINT-date rewrites claim disjoint files and run fully in
    *    parallel (the common case — e.g. two backfills of different weeks);
    *  - SAME-date rewrites produce one clean winner and one clean
    *    [[ConcurrentWriteException]] loser, which re-runs against the
    *    winner's committed state (the Delta `retries=10` loop) — never a
    *    torn partition.
    *
    * Claims acquire in sorted order (no deadlock: losers fail fast, they
    * never block holding a subset), expire by age like the generation
    * claims (a crashed rewriter blocks its dates only until `staleMs`),
    * and stand on the same [[atomicCreate]] primitive — see the S3 note
    * there. Appends never claim (append ∥ anything commutes at the file
    * level); compaction conflicts are caught by the rewritten-file check.
    */
  private[store] def dateClaimPath(dir: String, dateValue: String): Path =
    new Path(new Path(dir, "_claims"),
      s"date=${java.net.URLEncoder.encode(dateValue, "UTF-8")}.claim")

  private def withDateClaims[T](f: FileSystem, dir: String,
      dates: Seq[String], staleMs: Long)(body: => T): T = {
    f.mkdirs(new Path(dir, "_claims"))
    val acquired = scala.collection.mutable.ArrayBuffer.empty[Path]
    try {
      // acquisition runs UNDER the commit lock so it serializes against
      // append commits: an append's staged files either land before the
      // claim set exists (the rewrite's read then sees them — the claim
      // holder reads only after this block) or the append observes the
      // claim at ITS commit point and backs off. Without this ordering an
      // append could publish into a date mid-way through the rewriter's
      // read and have its files silently deleted by the dynamic overwrite.
      // Only the acquisitions hold the lock — the read→rewrite body runs
      // outside it.
      withCommitLock(f, dir, staleMs) {
        dates.distinct.sorted.foreach { d =>
          val p = dateClaimPath(dir, d)
          expireStaleClaim(f, p, staleMs) // one-deleter arbitration, no TOCTOU
          if (atomicCreate(f, p)) acquired += p
          else throw new ConcurrentWriteException(
            s"another writer holds the rewrite claim for date=$d on $dir — " +
              "re-run after it commits (disjoint-date rewrites run in parallel)")
        }
      }
      body
    } finally acquired.foreach(f.delete(_, false))
  }

  /** Age-expired cleanup of `.staging/` debris a crashed writer left —
    * never visible to readers (dot-prefixed), just dead bytes.
    */
  private def cleanStaleStaging(f: FileSystem, dir: String,
      staleMs: Long): Unit = {
    val st = new Path(dir, ".staging")
    if (f.exists(st)) f.listStatus(st).foreach { s =>
      if (System.currentTimeMillis - s.getModificationTime > staleMs)
        f.delete(s.getPath, true)
    }
  }

  /** Current (generation number, data dir): the highest `g<N>` subdir with a
    * committed `_SUCCESS`. None for legacy flat layouts and missing tables.
    */
  def currentGeneration(spark: SparkSession, dir: String): Option[(Int, String)] = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) None
    else f.listStatus(root).iterator
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case GenName(n) if f.exists(new Path(s.getPath, "_SUCCESS")) =>
          Some((n.toInt, s.getPath.toString))
        case _ => None
      })
      .maxByOption(_._1)
  }

  /** Directory actually holding the table's data (current generation, or the
    * table dir itself for legacy flat layouts).
    */
  def resolveDataDir(spark: SparkSession, dir: String): String =
    currentGeneration(spark, dir).map(_._2).getOrElse(dir)

  /** Where writers put new data: the current generation; a legacy flat dir
    * if one already holds partitions; else a fresh `g0`.
    */
  private def writeDir(spark: SparkSession, dir: String): String =
    currentGeneration(spark, dir) match {
      case Some((_, p)) => p
      case None =>
        val f = fs(spark, dir)
        val root = new Path(dir)
        val legacyFlat = f.exists(root) && f.listStatus(root)
          .exists(s => s.isDirectory && s.getPath.getName.startsWith("date="))
        if (legacyFlat) dir else s"$dir/g0"
    }

  /** S6: append one batch, partitioned by `date` (`preprocess.py:165-175`).
    *
    * Staged publish: the batch writes to `dir/.staging/<uuid>` (long,
    * lock-free, parallel with everything), then the files rename into the
    * CURRENT generation under the commit lock (milliseconds). Two
    * concurrent appenders both commit — task-UUID file names can't
    * collide — and an append racing a compaction resolves its target
    * generation at its own commit point: either the compactor's locked
    * rebase picks the files up from the old generation, or the rename
    * lands them in the new one. Never both (the lock serializes the two
    * commit points), never neither.
    *
    * Returns the batch's distinct `date` values as strings — what
    * `df.select(col("date").cast("string")).distinct().collect()` gives,
    * read off the staged `date=` directories the commit lists anyway, so
    * a caller that needs the touched partitions pays no second job. The
    * default partition maps back to null; like Spark's writer, an empty
    * string value also lands there and so comes back as null.
    */
  def append(df: DataFrame, dir: String): Seq[String] = {
    val spark = df.sparkSession
    val f = fs(spark, dir)
    val staging = s"$dir/.staging/append-${java.util.UUID.randomUUID()}"
    df.write.mode("overwrite").partitionBy("date").parquet(staging)
    // a live-rewrite-claim back-off re-runs under a FRESH staging uuid, so
    // the staged copy this attempt produced would leak forever (invisible
    // to reads, but a full batch of disk debris per back-off under
    // contention) — reclaim it before propagating, outside the lock
    try appendCommit(spark, f, dir, staging)
    catch {
      case e: ConcurrentWriteException =>
        f.delete(new Path(staging), true); throw e
    }
  }

  private def appendCommit(spark: SparkSession,
      f: org.apache.hadoop.fs.FileSystem, dir: String,
      staging: String): Seq[String] = {
    withCommitLock(f, dir, 30L * 60 * 1000) {
      val tgt = new Path(writeDir(spark, dir))
      f.mkdirs(tgt)
      val parts = f.listStatus(new Path(staging)).toSeq.filter(pd =>
        pd.isDirectory && pd.getPath.getName.startsWith("date="))
      // a LIVE rewrite claim on a staged date means a merge/delete/replace/
      // compactDates is mid-way through its read→rewrite window: files this
      // append publishes now would be invisible to that rewrite's snapshot
      // and silently deleted by its partition overwrite. Claims acquire
      // under THIS lock (withDateClaims), so the check is race-free: either
      // the claim exists here (back off, re-run after the rewrite) or the
      // rewriter's read starts after this whole commit. Appends still never
      // claim — append ∥ append and append ∥ compact stay fully parallel.
      parts.foreach { pd =>
        val d = unescapePath(pd.getPath.getName.stripPrefix("date="))
        val cp = dateClaimPath(dir, d)
        expireStaleClaim(f, cp, 30L * 60 * 1000)
        if (f.exists(cp)) throw new ConcurrentWriteException(
          s"date=$d on $dir is being rewritten (live rewrite claim) — " +
            "re-run the append after the rewrite commits")
      }
      parts.foreach { pd =>
        val dst = new Path(tgt, pd.getPath.getName)
        f.mkdirs(dst)
        f.listStatus(pd.getPath).foreach { file =>
          val name = file.getPath.getName
          if (!name.startsWith("_") && !name.startsWith("."))
            require(f.rename(file.getPath, new Path(dst, name)),
              s"append publish rename failed: ${file.getPath} -> $dst")
        }
      }
      // a fresh g0 needs its visibility marker (committer wrote it into
      // staging, not here); legacy flat roots never carry one
      if (GenName.matches(tgt.getName)) {
        val marker = new Path(tgt, "_SUCCESS")
        if (!f.exists(marker)) f.create(marker).close()
      }
      f.delete(new Path(staging), true)
      parts.map(pd => pd.getPath.getName.stripPrefix("date=") match {
        case ExternalCatalogUtils.DEFAULT_PARTITION_NAME => null
        case v => unescapePath(v)
      })
    }
  }

  /** Write-path expectations (the Delta table-constraints / dbt
    * store-and-route shape): rows satisfying every ROW-LOCAL check append
    * into the table; violating rows are ROUTED to `dir/_rejects` with a
    * `reject_reasons` column (comma-joined sorted names of every failed
    * check) instead of poisoning the table or failing the batch —
    * auditable, reprocessable, and the write stays all-rows-accounted-for
    * (returned counts sum to the batch).
    *
    * Row-local checks only ([[graft.query.Constraints.NotNull]] /
    * [[Constraints.InRange]]): the mask is one codegen'd projection on
    * the existing write scan — no shuffle, no second pass over history.
    * Cross-row checks (Unique, ForeignKey) need corpus state and belong
    * to [[graft.query.Constraints.audit]] BEFORE publish; passing one
    * here fails loudly rather than silently checking the batch alone.
    * `df` must carry the store's `date` partition column; rejects
    * partition by the same dates, so reprocessing a day's rejects is a
    * partition read.
    */
  def appendWithExpectations(df: DataFrame,
      dir: String,
      checks: Seq[graft.query.Constraints.Check]): (Long, Long) = {
    import graft.query.Constraints.{Check, InRange, NotNull}
    require(checks.nonEmpty, "appendWithExpectations needs >=1 check")
    val rowLocal: Seq[(String, Column)] = checks.map {
      case c: NotNull => c.name -> col(c.col).isNull
      case c: InRange => c.name -> (col(c.col).isNotNull &&
        (col(c.col) < c.lo || col(c.col) > c.hi))
      case c: Check => throw new IllegalArgumentException(
        s"appendWithExpectations takes row-local checks only; '${c.name}' " +
          "needs corpus state — run Constraints.audit before publish")
    }.sortBy(_._1)
    // one conditional-array concat per row, codegen'd; empty = clean
    val reasons = concat(rowLocal.map { case (n, v) =>
      when(v, array(lit(n))).otherwise(array().cast("array<string>"))
    }: _*)
    val flagged = df.withColumn("_reasons", reasons)
    val good = flagged.filter(size(col("_reasons")) === 0).drop("_reasons")
    val bad = flagged.filter(size(col("_reasons")) > 0)
      .withColumn("reject_reasons", concat_ws(",", col("_reasons")))
      .drop("_reasons")
    // both counts from ONE aggregate pass (not a count() per branch —
    // that would re-scan the batch twice more); the branch writes then
    // re-evaluate the deterministic batch, the store's standing
    // assumption (append/merge make it too)
    val counts = flagged.agg(
      sum(when(size(col("_reasons")) === 0, 1L).otherwise(0L)).as("g"),
      sum(when(size(col("_reasons")) > 0, 1L).otherwise(0L)).as("b")).head()
    val (nGood, nBad) =
      (if (counts.isNullAt(0)) 0L else counts.getLong(0),
        if (counts.isNullAt(1)) 0L else counts.getLong(1))
    append(good, dir)
    if (nBad > 0) bad.write.mode("append").partitionBy("date")
      .parquet(s"$dir/_rejects")
    (nGood, nBad)
  }

  /** Idempotent per-partition overwrite — re-writing the same dates replaces
    * rather than duplicates them (dynamic partition overwrite; the building
    * block of the pipeline's crash recovery, `GhaPipeline.recover`).
    */
  def upsertPartitions(spark: SparkSession, df: DataFrame, dir: String): Unit = {
    val genBefore = currentGenNumber(spark, dir)
    val tgt = writeDir(spark, dir)
    // writer-scoped dynamic mode: must not leak into the session conf, where
    // it would silently change every later partitioned overwrite (and drop
    // the top-level _SUCCESS that generation resolution keys on).
    df.write.mode("overwrite").partitionBy("date")
      .option("partitionOverwriteMode", "dynamic")
      .parquet(tgt)
    val f = fs(spark, dir)
    beforeCommitHook()
    withCommitLock(f, dir, 30L * 60 * 1000) {
      // a compaction that swapped generations during this write would have
      // either rebased-then-lost our rewrites or aborted on them — verify
      // under the lock that our files landed in the LIVE generation; the
      // idempotent caller re-runs against the new one otherwise
      if (currentGenNumber(spark, dir) != genBefore)
        throw new ConcurrentWriteException(
          s"$dir swapped generations during a partition rewrite " +
            s"(g$genBefore -> g${currentGenNumber(spark, dir)}) — re-run it")
      // dynamic-overwrite commits move partition dirs but write no top-level
      // _SUCCESS; if this was the table's FIRST write (fresh g0), commit the
      // generation marker ourselves, after the data — visibility stays atomic.
      val marker = new Path(tgt, "_SUCCESS")
      if (!f.exists(marker)) f.create(marker).close()
    }
  }

  /** S13: row-level MERGE (Delta `MERGE INTO ... WHEN MATCHED UPDATE ALL /
    * WHEN NOT MATCHED INSERT ALL` with partition-local keys) — the upsert
    * depth the reference's Delta store exposes but never uses (its tables
    * are append-only, `preprocess.py:165-175`). `updates` must carry the
    * `date` partition column; rows replace existing rows sharing the same
    * `keyCols` value IN THE SAME PARTITION, or insert otherwise.
    *
    * CONTRACT: the logical key is (`date`, keyCols) — a row never moves
    * between partitions via merge. An update that changes a row's date is
    * an insert into the new partition; the old row must be removed by the
    * caller (dropPartition / a tombstone batch). This is the standard
    * partition-scoped upsert: it lets the merge touch ONLY the partitions
    * named by the batch instead of scanning the table for matches.
    *
    * Scale shape: touched dates come off the (small) batch — one distinct
    * collect bounded by the batch's date spread; only those partitions are
    * read and rewritten (dynamic partition overwrite); the match is a
    * LEFT ANTI join of the touched slice against the batch keys, which AQE
    * broadcasts while the batch fits (the usual regime — a merge batch is
    * hours of data, the table is years). Untouched partitions are never
    * read, never written. Idempotent: re-merging the same batch is a no-op
    * state-wise.
    */
  def merge(spark: SparkSession, updates: DataFrame, dir: String,
      keyCols: Seq[String]): Unit = {
    require(updates.columns.contains("date"), "merge: updates need a `date` column")
    require(keyCols.nonEmpty && keyCols.forall(updates.columns.contains),
      s"merge: key columns ${keyCols.mkString(",")} must exist in the batch")
    import org.apache.spark.sql.functions.col
    // schema enforcement (replaceWhere's, same hazard): a batch NARROWER
    // than the table would project the rewritten partitions down to its
    // own columns — every pre-existing row in a touched partition would
    // silently lose the missing columns
    tableColumns(spark, dir).foreach { tableCols =>
      val batchCols = updates.columns.toSet
      require(batchCols == tableCols,
        s"merge: batch schema must match the table: " +
          s"missing=${(tableCols -- batchCols).mkString(",")} " +
          s"extra=${(batchCols -- tableCols).mkString(",")}")
    }
    val batch = updates.localCheckpoint() // read once: touched-date scan + anti-join probe + union
    try {
      val touched = batch.select("date").distinct().collect().map(_.get(0))
      if (touched.isEmpty) return
      // claim the touched dates for the whole read→rewrite window: two
      // merges into DISJOINT dates run in parallel; a same-date race loses
      // cleanly here instead of silently dropping the winner's rows
      withDateClaims(fs(spark, dir), dir,
        touched.toIndexedSeq.map(String.valueOf), 30L * 60 * 1000) {
        val cols = batch.columns.toSeq
        // readEvolved, not read(): on a schema-evolved table the footer-
        // inferred read can miss declared columns (the deleteWhere/
        // replaceWhere precedent)
        val current = readEvolved(spark, dir)
          .filter(col("date").isin(touched: _*))
          .select(cols.map(col): _*)
        val joinKeys = "date" +: keyCols
        val survivors = current.join(batch.select(joinKeys.map(col): _*),
          joinKeys, "left_anti")
        upsertPartitions(spark, survivors.unionByName(batch), dir)
      }
    } finally {
      org.apache.spark.sql.graft.ColumnBridge.releaseLocalCheckpoint(batch)
    }
  }

  /** S17: row-level DELETE (`DELETE FROM ... WHERE predicate` — the Delta
    * DELETE analog, and the GDPR/right-to-erasure path when the predicate
    * is a key list). Returns the number of rows deleted.
    *
    * Partition-pruned rewrite: one scan under the predicate discovers the
    * touched dates AND the per-date match counts (a single aggregate job —
    * when the predicate constrains `date`, Catalyst prunes that scan to
    * the candidate partitions); only touched partitions are re-read and
    * rewritten (dynamic partition overwrite, the [[merge]] machinery), the
    * rest of the table is never opened. Partitions whose every row matched
    * are DROPPED explicitly — dynamic overwrite only replaces partitions
    * present in the written data, so an emptied partition would otherwise
    * silently survive with its old rows.
    *
    * SQL DELETE null semantics: rows where the predicate evaluates NULL
    * are NOT deleted (only true deletes), matching `DELETE FROM ... WHERE`.
    * Idempotent: re-running the same delete removes 0 rows.
    */
  def deleteWhere(spark: SparkSession, dir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    // discover the candidate dates, then CLAIM them and recompute the
    // counts under the claims — a rewrite that committed between the
    // discovery scan and the claim would otherwise feed stale counts into
    // the emptied/partial split. Matching rows appearing in an UNclaimed
    // date mid-flight (concurrent append) fail loudly; the re-run claims
    // them. Serialized-after semantics for appends racing the delete.
    val candidates = readEvolved(spark, dir).filter(predicate)
      .select("date").distinct().collect().map(_.get(0))
    if (candidates.isEmpty) return 0L
    withDateClaims(fs(spark, dir), dir,
      candidates.toIndexedSeq.map(String.valueOf), 30L * 60 * 1000) {
      val perDate = readEvolved(spark, dir).filter(predicate)
        .groupBy("date").count().collect()
        .map(r => r.get(0) -> r.getLong(1)).toMap
      val unclaimed = perDate.keySet.map(String.valueOf) --
        candidates.map(String.valueOf)
      if (unclaimed.nonEmpty) throw new ConcurrentWriteException(
        s"$dir: matching rows appeared in unclaimed dates " +
          s"${unclaimed.mkString(",")} during the delete — re-run it")
      if (perDate.isEmpty) 0L
      else {
        val touched = perDate.keys.toSeq
        val slice = readEvolved(spark, dir)
          .filter(col("date").isin(touched: _*))
        val totals = slice.groupBy("date").count().collect()
          .map(r => r.get(0) -> r.getLong(1)).toMap
        val (emptied, partial) = touched.partition(d => perDate(d) == totals(d))
        if (partial.nonEmpty) {
          val survivors = slice.filter(col("date").isin(partial: _*))
            .filter(coalesce(not(predicate), lit(true)))
          upsertPartitions(spark, survivors, dir)
        }
        emptied.foreach(d => dropPartition(spark, dir, d.toString))
        perDate.values.sum
      }
    }
  }

  /** S20: predicate-scoped overwrite (Delta `replaceWhere`) — replace
    * exactly the slice matching `predicate` with `batch`, e.g.
    * "rebuild last week from the corrected source" without touching the
    * rest of the table. The classic backfill primitive: stronger than
    * [[upsertPartitions]] (which replaces only partitions PRESENT in the
    * batch — it cannot empty a partition the recomputation produced no
    * rows for) and coarser than [[merge]] (no per-row keys needed).
    *
    * Contract (Delta's): every batch row must satisfy `predicate` —
    * otherwise the write would smuggle rows outside the declared slice
    * into partitions the reader believes untouched; violations throw
    * before anything is written. Returns the number of rows replaced
    * (current rows matching the predicate).
    *
    * Scale shape: touched dates = (dates with matching rows) ∪ (batch
    * dates) — discovered by one predicate-pruned aggregate over the table
    * (Catalyst prunes the scan to candidate partitions when the predicate
    * constrains `date`) plus one distinct over the batch. Only those
    * partitions are re-read and rewritten; dates whose every current row
    * matched and that the batch doesn't repopulate are DROPPED (dynamic
    * overwrite alone would leave them stale). NULL predicate rows are
    * kept, matching [[deleteWhere]]'s SQL semantics.
    *
    * Crash semantics (same honesty as [[deleteWhere]], NOT a transaction):
    * each partition swap is atomic, the multi-partition sweep is not.
    * Predicate-emptied partitions are dropped FIRST, then repopulated
    * dates swap in — a crash mid-sweep leaves a conservative state
    * (some slice data missing, never predicate-matched rows surviving
    * next to committed replacements); rerunning the call converges.
    */
  def replaceWhere(spark: SparkSession, batchDf: DataFrame, dir: String,
      predicate: org.apache.spark.sql.Column): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, not, when}
    require(batchDf.columns.contains("date"),
      "replaceWhere: batch needs a `date` column")
    // schema enforcement (Delta's): a batch missing a table column would
    // silently NULL that column across the whole rewritten slice; an extra
    // column would land physically without widening the declared schema.
    // Fail loudly on both — evolution goes through appendEvolving.
    tableColumns(spark, dir).foreach { tableCols =>
      val batchCols = batchDf.columns.toSet
      require(batchCols == tableCols,
        s"replaceWhere: batch schema must match the table: " +
          s"missing=${(tableCols -- batchCols).mkString(",")} " +
          s"extra=${(batchCols -- tableCols).mkString(",")}")
    }
    val batch = batchDf.localCheckpoint() // read twice: stats, write
    try {
      // ONE pass over the batch yields the per-date counts AND the
      // predicate-violation count (was two separate jobs; each job here
      // is a scheduler barrier at tick scale)
      val batchAgg = batch.groupBy("date").agg(
        count(lit(1)).as("__n"),
        count(when(coalesce(not(predicate), lit(true)), 1)).as("__viol"))
        .collect()
      val violations = batchAgg.map(_.getLong(2)).sum
      require(violations == 0L,
        s"replaceWhere: $violations batch rows do not satisfy the predicate")
      val batchPerDate = batchAgg.map(r => r.get(0) -> r.getLong(1)).toMap
      // candidate dates = batch dates ∪ predicate-matching base dates;
      // claim them, then recompute the base counts UNDER the claims (same
      // protocol as deleteWhere — stale counts from a pre-claim racer
      // would corrupt the emptied/written split)
      val candidates = (readEvolved(spark, dir).filter(predicate)
        .select("date").distinct().collect().map(_.get(0)).toSet ++
        batchPerDate.keySet).toSeq
      if (candidates.isEmpty) 0L
      else withDateClaims(fs(spark, dir), dir,
        candidates.toIndexedSeq.map(String.valueOf), 30L * 60 * 1000) {
        val perDate = readEvolved(spark, dir).filter(predicate)
          .groupBy("date").count().collect()
          .map(r => r.get(0) -> r.getLong(1)).toMap
        val unclaimed = perDate.keySet.map(String.valueOf) --
          candidates.map(String.valueOf)
        if (unclaimed.nonEmpty) throw new ConcurrentWriteException(
          s"$dir: matching rows appeared in unclaimed dates " +
            s"${unclaimed.mkString(",")} during the replace — re-run it")
        val touched = (perDate.keySet ++ batchPerDate.keySet).toSeq
        val slice = readEvolved(spark, dir)
          .filter(col("date").isin(touched: _*))
        val totals = slice.groupBy("date").count().collect()
          .map(r => r.get(0) -> r.getLong(1)).toMap
        val emptied = touched.filter { d =>
          totals.getOrElse(d, 0L) - perDate.getOrElse(d, 0L) +
            batchPerDate.getOrElse(d, 0L) == 0L
        }
        val written = touched.diff(emptied)
        // drops BEFORE the upsert: a crash mid-sweep then leaves missing
        // data (conservative, rerun converges), never stale predicate rows
        // alongside already-committed replacements — see the scaladoc
        emptied.foreach(d => dropPartition(spark, dir, d.toString))
        if (written.nonEmpty) {
          val survivors = slice.filter(col("date").isin(written: _*))
            .filter(coalesce(not(predicate), lit(true)))
          upsertPartitions(spark, survivors.unionByName(batch), dir)
        }
        perDate.values.sum
      }
    } finally {
      org.apache.spark.sql.graft.ColumnBridge.releaseLocalCheckpoint(batch)
    }
  }

  /** Remove one `date=` partition entirely (recovery path for a partition
    * whose every row came from a rolled-back batch).
    */
  def dropPartition(spark: SparkSession, dir: String, date: String): Unit = {
    val f = fs(spark, dir)
    val p = new Path(resolveDataDir(spark, dir), s"date=$date")
    if (f.exists(p)) f.delete(p, true)
  }

  /** S7: full-table overwrite for derived result tables
    * (`preprocess.py:226-230, 240-244` — the reference does rm+mkdir+write;
    * Spark's overwrite mode is the atomic-enough equivalent).
    */
  def overwrite(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  /** Overwrite via a fresh generation. For derived tables whose NEXT
    * version is computed FROM their current one (incremental aggregates):
    * a plain overwrite would delete the very files the merge plan is
    * reading; writing generation N+1 while reading N needs no checkpoint
    * barrier, and concurrent readers keep a stable file list (same
    * machinery as [[compact]]). `partitionCols` optionally keeps the
    * result date-partitioned so later appends can target it.
    */
  def overwriteVersioned(df: DataFrame, dir: String,
      partitionCols: Seq[String] = Nil,
      staleLockMs: Long = 30L * 60 * 1000,
      expectedGen: Int = CasUnchecked): Unit = {
    val spark = df.sparkSession
    val f = fs(spark, dir)
    // claim = mutual exclusion among generation producers (and the CAS
    // check for read-modify-write callers, BEFORE the expensive write)
    val nextN = claimNextGeneration(spark, f, dir, staleLockMs, expectedGen)
    try {
      val tgt = s"$dir/g$nextN"
      // no _SUCCESS from the committer: visibility is OUR commit point,
      // created under the lock after the data is fully in place
      val w = df.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(tgt)
      beforeCommitHook()
      withCommitLock(f, dir, staleLockMs) {
        f.create(new Path(tgt, "_SUCCESS"), true).close() // the commit point
      }
      vacuum(spark, dir, keepFrom = nextN - 1)
    } finally releaseClaim(f, dir, nextN)
  }

  /** Delta-style optimistic read-modify-write transaction: `compute` must
    * READ the table fresh and return its full replacement; the commit
    * CAS-checks the base generation and, on a concurrent commit, the whole
    * body re-runs against the new state — the reference's `retries=10`
    * loop (`preprocess.py:261`), here with the re-derivation made explicit
    * instead of implicit in Delta's log rebase. Generation retention keeps
    * the base snapshot's files alive across one concurrent swap, so an
    * in-flight `compute` reads a consistent snapshot even while losing.
    */
  def transactVersioned(spark: SparkSession, dir: String,
      partitionCols: Seq[String] = Nil)(compute: => DataFrame): Unit = {
    val retries = 10
    var attempt = 0
    var committed = false
    while (!committed) {
      val base = currentGenNumber(spark, dir)
      val next = compute
      try {
        overwriteVersioned(next, dir, partitionCols, expectedGen = base)
        committed = true
      } catch {
        case e: ConcurrentWriteException =>
          attempt += 1
          if (attempt > retries) throw e
          // bounded backoff with jitter: the winner's commit section is
          // milliseconds, but its data write (which holds the claim) can
          // be long — wait out claims, not just commits
          Thread.sleep(math.min(2000L, 50L << math.min(attempt, 5)) +
            scala.util.Random.nextInt(50))
      }
    }
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(resolveDataDir(spark, dir))

  /** Schema-declared read: required for tables that may hold zero rows (an
    * ingested batch with no events of some type writes only `_SUCCESS`, so
    * there is no footer to infer from), and the right default everywhere —
    * the curated schemas of `GhaSchemas` are the contract, not the files.
    */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(resolveDataDir(spark, dir))

  // ---- S15: schema evolution (widen-on-append, declared-schema reads) --------

  /** Sidecar holding the table's DECLARED schema (`_schema.json` at the
    * table root — schema outlives generations; compaction rewrites data,
    * not the contract). Absent for tables that never evolved: their files
    * all share one schema and footer inference is exact.
    */
  private def schemaPath(dir: String): Path = new Path(dir, "_schema.json")

  /** The declared (evolved) schema, if this table has one. */
  def declaredSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val f = fs(spark, dir)
    val p = schemaPath(dir)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try {
        val bytes = new Array[Byte](f.getFileStatus(p).getLen.toInt)
        in.readFully(bytes)
        Some(DataType.fromJson(new String(bytes, "UTF-8"))
          .asInstanceOf[StructType])
      } finally in.close()
    }
  }

  /** Widen `base` with the new columns of `incoming`, Delta
    * `mergeSchema`-style: existing columns must keep their exact type
    * (conflicts fail loudly — silent coercion corrupts a 100 TB table
    * quietly; cast BEFORE appending), new columns append at the end as
    * nullable (historical rows read as NULL).
    */
  private[store] def widen(base: StructType, incoming: StructType): StructType = {
    val byName = base.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { b =>
        require(b.dataType == f.dataType,
          s"schema conflict on '${f.name}': table has ${b.dataType}, " +
            s"batch has ${f.dataType} — cast the batch before appending")
      }
    }
    val added = incoming.fields.filterNot(f => byName.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(base.fields ++ added)
  }

  /** S15: append with schema evolution — the Delta
    * `option("mergeSchema", true)` write. The batch may carry columns the
    * table has never seen; the table's declared schema widens (monotone —
    * columns are never dropped or retyped) and historical rows read the
    * new columns as NULL. The sidecar commits BEFORE the data: a crash
    * between the two leaves a declared column no file carries yet, which
    * reads as all-NULL — forward-compatible; the replayed batch completes
    * it. (Data-first would leave committed rows invisible in the new
    * column — silent data loss to readers.)
    *
    * Scale note: this is why reads use a DECLARED schema instead of
    * `mergeSchema=true` footer merging — merging footers is a distributed
    * O(files) job per read at 100 TB; the sidecar makes schema resolution
    * O(1), exactly the Delta-log design.
    */
  def appendEvolving(df: DataFrame, dir: String): Unit = {
    val spark = df.sparkSession
    // the base must come from ANY existing data — generational OR legacy
    // flat. A flat table (data, no generation, no sidecar) with base =
    // empty would write _schema.json as just the batch's schema, silently
    // erasing the table's pre-existing columns from every evolved read.
    val hasFlatData = currentGeneration(spark, dir).isEmpty && {
      val f = fs(spark, dir)
      val root = new Path(dir)
      f.exists(root) && f.listStatus(root).exists(s =>
        s.isDirectory && s.getPath.getName.startsWith("date="))
    }
    val base = declaredSchema(spark, dir)
      .orElse(if (currentGeneration(spark, dir).isDefined || hasFlatData)
        Some(read(spark, dir).schema) else None)
      .getOrElse(StructType(Nil))
    val widened = widen(base, df.schema)
    if (declaredSchema(spark, dir).forall(_ != widened)) {
      val f = fs(spark, dir)
      f.mkdirs(new Path(dir))
      val out = f.create(schemaPath(dir), true)
      try out.write(widened.json.getBytes("UTF-8")) finally out.close()
    }
    append(df, dir)
  }

  /** Read under the declared schema when the table evolved (files missing
    * a declared column yield NULL — by-name parquet resolution); plain
    * footer-inferred read otherwise.
    */
  def readEvolved(spark: SparkSession, dir: String): DataFrame =
    declaredSchema(spark, dir) match {
      case Some(s) => read(spark, dir, s)
      case None => read(spark, dir)
    }

  /** Parquet data files of the CURRENT generation (recursive). */
  def dataFiles(spark: SparkSession, dir: String): Seq[String] =
    listParquet(spark, resolveDataDir(spark, dir))

  /** The table's column set for rewrite-batch schema enforcement, or None
    * for a table with no schema source yet (fresh dir). O(metadata): the
    * declared-schema sidecar, else — when a committed generation or a
    * legacy flat layout exists — one evolved read's resolved schema. Never
    * the O(files) `dataFiles` walk the old replaceWhere gate paid just to
    * decide whether to check.
    */
  private def tableColumns(spark: SparkSession,
      dir: String): Option[Set[String]] =
    declaredSchema(spark, dir).map(_.fieldNames.toSet).orElse {
      val f = fs(spark, dir)
      val root = new Path(dir)
      val hasData = currentGeneration(spark, dir).isDefined ||
        (f.exists(root) && f.listStatus(root).exists(s =>
          s.isDirectory && s.getPath.getName.startsWith("date=")))
      if (hasData) Some(readEvolved(spark, dir).columns.toSet) else None
    }

  /** Inclusive numeric range predicate for file-level data skipping. */
  final case class ColRange(name: String, lo: Double, hi: Double)

  /** A pruned read plus the skipping evidence for observability/tests.
    * `statsSource` records where the per-file evidence came from:
    * "footers" ([[readPruned]]'s footer pass) or "bloom"
    * ([[BloomSkip.readPrunedEq]]).
    */
  final case class PrunedRead(df: DataFrame, filesKept: Int, filesTotal: Int,
      statsSource: String = "footers")

  /** File-level data skipping from parquet footer stats — the engine-side
    * half of Delta data skipping (Delta reads min/max from its tx log; a
    * plain-parquet store reads them from the footers, distributed one task
    * per file batch so the driver never touches a footer). A file is
    * skipped only when its stats PROVE no row can satisfy every range;
    * missing/non-numeric stats keep the file (conservative). The caller
    * still applies the row-level filter — pruning is a superset guarantee,
    * identical results, fewer bytes read.
    *
    * Pairs with z-order compaction ([[compact]] `zorderBy`): clustered
    * layout makes per-file ranges tight, so multi-column predicates drop
    * most files instead of overlapping all of them.
    */
  def readPruned(spark: SparkSession, dir: String, ranges: Seq[ColRange],
      schema: Option[StructType] = None): PrunedRead = {
    val dataDir = resolveDataDir(spark, dir)
    val files = listParquet(spark, dataDir)
    val kept = keptByFooters(spark, files, ranges)
    val reader = schema.orElse(declaredSchema(spark, dir))
      .fold(spark.read)(s => spark.read.schema(s))
    val df =
      if (files.isEmpty) reader.parquet(dataDir)
      else if (kept.isEmpty)
        reader.option("basePath", dataDir).parquet(files.head)
          .where(org.apache.spark.sql.functions.lit(false))
      else reader.option("basePath", dataDir).parquet(kept: _*)
    PrunedRead(df, kept.size, files.size)
  }

  /** The files whose footer ranges overlap every one of `ranges`. */
  private def keptByFooters(spark: SparkSession, files: Seq[String],
      ranges: Seq[ColRange]): Seq[String] = {
    val stats = footerStats(spark, files, ranges.map(_.name))
    files.filter { f =>
      val fileStats = stats.getOrElse(f, Map.empty)
      ranges.forall { r =>
        fileStats.get(r.name) match {
          case Some((mn, mx)) => mx >= r.lo && mn <= r.hi
          case None => true // column absent from stats → can't prove, keep
        }
      }
    }
  }

  /** Per-file `col → (min, max)` of `cols` over the footers of `files`,
    * read in parallel tasks (a 100 TB table's stats pass is O(files) footer
    * reads spread over the cluster — the same stats Delta materializes in
    * its log).
    */
  private def footerStats(spark: SparkSession, files: Seq[String],
      cols: Seq[String]): Map[String, Map[String, (Double, Double)]] =
    if (files.isEmpty || cols.isEmpty) Map.empty
    else {
      val colSet = cols.toSet
      // the SESSION's Hadoop conf must reach the tasks (S3A credentials /
      // endpoints land there via CloudStorage.configure; a bare
      // `new Configuration()` would see none of it). Configuration itself
      // isn't serializable — ship the entries and rebuild per task.
      import scala.jdk.CollectionConverters._
      val confEntries = spark.sparkContext.hadoopConfiguration.iterator()
        .asScala.map(e => (e.getKey, e.getValue)).toArray
      spark.sparkContext
        .parallelize(files, math.max(1, math.min(files.size, 64)))
        .map { p =>
          import scala.jdk.CollectionConverters._
          val conf = new org.apache.hadoop.conf.Configuration()
          confEntries.foreach { case (k, v) => conf.set(k, v) }
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(p), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            val m = scala.collection.mutable.Map[String, (Double, Double)]()
            val keep = (Double.NegativeInfinity, Double.PositiveInfinity)
            for (b <- r.getFooter.getBlocks.asScala;
                 c <- b.getColumns.asScala) {
              val name = c.getPath.toDotString
              if (colSet.contains(name)) {
                val st = c.getStatistics
                val range: Option[(Double, Double)] =
                  if (st == null || st.isEmpty) Some(keep) // no stats → keep file
                  else if (!st.hasNonNullValue) None // all-null block: no row matches
                  else numericRange(st).orElse(Some(keep)) // non-numeric → keep
                range.foreach { case (mn, mx) =>
                  m(name) = m.get(name).fold((mn, mx)) { t =>
                    (math.min(t._1, mn), math.max(t._2, mx))
                  }
                }
              }
            }
            (p, m.toMap)
          } finally r.close()
        }.collect().toMap
    }

  /** S21: corrupt-file quarantine — the anti-entropy sweep for a store
    * whose object layer can hand back truncated or garbage objects (the
    * failure mock3:// simulates at the rename layer, seen at the data
    * layer). One distributed footer probe over every data file; files
    * whose footer fails to parse are MOVED to `_quarantine/` under the
    * table root (hidden dir — readers and compaction never list it),
    * named by their relative path so colliding basenames across
    * partitions can't clobber. Returns the quarantined paths.
    *
    * Honest boundary: a footer-valid file with corrupt DATA pages passes
    * this probe — truncation and whole-object garbage (the common
    * object-store failures) are what the footer catches; page-level CRCs
    * are the reader's job. Idempotent: a second sweep finds nothing.
    */
  def quarantineCorrupt(spark: SparkSession, dir: String): Seq[String] = {
    val dataDir = resolveDataDir(spark, dir)
    val files = listParquet(spark, dataDir)
    if (files.isEmpty) return Nil
    import scala.jdk.CollectionConverters._
    val confEntries = spark.sparkContext.hadoopConfiguration.iterator()
      .asScala.map(e => (e.getKey, e.getValue)).toArray
    val bad = spark.sparkContext
      .parallelize(files, math.max(1, math.min(files.size, 64)))
      .flatMap { p =>
        val conf = new org.apache.hadoop.conf.Configuration()
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        val ok = try {
          val in = org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(new Path(p), conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try r.getFooter.getBlocks != null finally r.close()
        } catch { case scala.util.control.NonFatal(_) => false }
        if (ok) None else Some(p)
      }.collect().toSeq
    if (bad.nonEmpty) {
      val f = fs(spark, dir)
      val qdir = new Path(dataDir, "_quarantine")
      f.mkdirs(qdir)
      val base = f.makeQualified(new Path(dataDir)).toString
      bad.foreach { p =>
        val rel = f.makeQualified(new Path(p)).toString
          .stripPrefix(base).stripPrefix("/").replace("/", "__")
        // a failed rename (destination exists, permissions) must not report
        // the file as quarantined while it stays in the read path — fail
        // loudly; the sweep is idempotent, so a retry resumes cleanly
        require(f.rename(new Path(p), new Path(qdir, rel)),
          s"quarantine move failed: $p -> $qdir/$rel")
      }
    }
    bad
  }

  private def numericRange(
      st: org.apache.parquet.column.statistics.Statistics[_])
      : Option[(Double, Double)] = st match {
    case s: org.apache.parquet.column.statistics.LongStatistics =>
      Some((s.getMin.toDouble, s.getMax.toDouble))
    case s: org.apache.parquet.column.statistics.IntStatistics =>
      Some((s.getMin.toDouble, s.getMax.toDouble))
    case s: org.apache.parquet.column.statistics.DoubleStatistics =>
      Some((s.getMin, s.getMax))
    case s: org.apache.parquet.column.statistics.FloatStatistics =>
      Some((s.getMin.toDouble, s.getMax.toDouble))
    case _ => None
  }

  private[store] def listParquet(spark: SparkSession, dir: String): Seq[String] =
    listParquetStatus(spark, dir).map(_._1)

  /** Recursive (path, bytes) of every parquet DATA file under `dir` —
    * files inside hidden (`_`/`.`-prefixed) subdirs such as `_quarantine`
    * are not data, exactly as Spark's own file index treats them.
    */
  private def listParquetStatus(spark: SparkSession, dir: String)
      : Seq[(String, Long)] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else {
      val rootDepth = p.toUri.getPath.split("/").count(_.nonEmpty)
      val it = f.listFiles(p, true)
      val out = scala.collection.mutable.ArrayBuffer[(String, Long)]()
      while (it.hasNext) {
        val s = it.next()
        if (s.isFile && s.getPath.getName.endsWith(".parquet")) {
          val segs = s.getPath.toUri.getPath.split("/").filter(_.nonEmpty)
          val hidden = segs.drop(rootDepth)
            .exists(seg => seg.startsWith("_") || seg.startsWith("."))
          if (!hidden) out += ((s.getPath.toString, s.getLen))
        }
      }
      out.toSeq
    }
  }

  /** S8+S9: compact each date partition to ~`targetFileBytes`-sized files
    * in a NEW generation, then vacuum everything older than the generation
    * being superseded (`preprocess.py:199-206`). Returns
    * (filesBefore, filesAfter).
    *
    * File sizing is the Delta-OPTIMIZE bin-pack analog: a date holding B
    * bytes gets ceil(B / targetFileBytes) buckets, rows spread across them
    * by hash, one file per bucket. "One file per partition" would be a
    * single task serially writing one 300 GB file for a hot date at corpus
    * scale — both the write parallelism and the resulting file must be
    * bounded by target size, not by partition size. Small partitions (the
    * common case) still compact to exactly one file.
    *
    * The swap is committed by the `_SUCCESS` of the new generation (written
    * last); the source generation survives until the next compaction so
    * concurrent readers never lose files mid-scan.
    */
  def compact(spark: SparkSession, dir: String,
      schema: Option[StructType] = None,
      targetFileBytes: Long = 512L * 1024 * 1024,
      zorderBy: Seq[String] = Nil,
      staleLockMs: Long = 30L * 60 * 1000): (Long, Long) = {
    import org.apache.spark.sql.functions._
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    val cur = currentGeneration(spark, dir)
    val srcDir = cur.map(_._2).getOrElse(dir)
    val f = fs(spark, dir)
    // Claim the generation number BEFORE touching anything: an overlapping
    // tick + manual backfill both computing g<N+1> must not interleave
    // writes into the same directory — the loser aborts cleanly here. The
    // expectedGen CAS also fails cleanly if another producer committed
    // between our resolve and the claim.
    val nextN = claimNextGeneration(spark, f, dir, staleLockMs,
      expectedGen = cur.map(_._1).getOrElse(-1))
    try {
    // Crash hygiene FIRST: a compaction attempt that died mid-write left an
    // UNCOMMITTED generation dir (no _SUCCESS). For a generational table
    // that's just dead bytes, but for a legacy flat table it is fatal:
    // srcDir == dir, and partition discovery over dir now sees date= dirs
    // at two depths ("Conflicting directory structures") — wedging reads
    // and every compaction retry until the leftover goes. We hold the
    // claim, so any uncommitted generation is a dead writer's to reclaim.
    locally {
      val root = new Path(dir)
      if (f.exists(root)) {
        val committed = cur.map(_._1).getOrElse(-1)
        f.listStatus(root).foreach { s =>
          if (s.isDirectory) s.getPath.getName match {
            case GenName(n) if n.toInt > committed && n.toInt != nextN &&
                !f.exists(new Path(s.getPath, "_SUCCESS")) =>
              f.delete(s.getPath, true)
            case _ => ()
          }
        }
      }
      cleanStaleStaging(f, dir, staleLockMs)
    }
    // Paths relative to the source root: stable keys for the snapshot/
    // re-list diff and the rebase copy targets (the listing returns
    // qualified URIs; srcDir may be a bare path).
    val srcRoot = f.makeQualified(new Path(srcDir)).toUri.getPath
      .reverse.dropWhile(_ == '/').reverse
    def relOf(p: String): String =
      new Path(p).toUri.getPath.stripPrefix(srcRoot).dropWhile(_ == '/')
    // For a legacy FLAT root the recursive listing must ignore generation
    // dirs (our own in-progress g<N> would otherwise read as source data
    // at re-list time) AND the metadata sidecars that live at the table
    // root without an underscore prefix: bloom_g<N> (BloomSkip), and the
    // stats_g<N> min/max sidecars earlier builds wrote. Unfiltered, their
    // parquet reads as a "concurrent append" and is rebase-copied INTO the
    // new generation as foreign-schema data.
    def listSrc(): Seq[(String, Long)] = {
      def sidecar(first: String) =
        first.startsWith("stats_") || first.startsWith("bloom_")
      listParquetStatus(spark, srcDir).filter { case (p, _) =>
        val first = relOf(p).takeWhile(_ != '/')
        (cur.isDefined || !GenName.matches(first)) && !sidecar(first)
      }
    }
    // ONE recursive listing drives everything: the before-count, the
    // per-date byte totals (keyed by the unescaped partition value, so an
    // escaped char in a dir name still matches the column's string form),
    // AND the pinned file set the read plan scans — concurrent appends
    // landing after this point are invisible to the rewrite and picked up
    // by the locked rebase at commit.
    val files = listSrc()
    val snapshot = files.map(s => relOf(s._1)).toSet
    val before = files.size.toLong
    val DateSeg = ".*/date=([^/]+)/.*".r
    val bucketsFor: Map[String, Long] = files
      .flatMap { case (p, len) => p match {
        case DateSeg(d) => Some(unescapePath(d) -> len)
        case _ => None
      }}
      .groupMapReduce(_._1)(_._2)(_ + _)
      .view.mapValues(b =>
        math.max(1L, (b + targetFileBytes - 1) / targetFileBytes))
      .toMap
    val tgt = s"$dir/g$nextN"
    val reader = schema.orElse(declaredSchema(spark, dir))
      .fold(spark.read)(s => spark.read.schema(s))
    // pin the scan to the snapshot (basePath keeps the date= partition
    // column); an empty table falls back to the dir read's error modes
    val df = if (files.isEmpty) reader.parquet(srcDir)
      else reader.option("basePath", srcDir).parquet(files.map(_._1): _*)
    val totalBuckets = math.max(1L, bucketsFor.values.sum)
    // visibility is OUR commit point (the locked _SUCCESS below), not the
    // committer's — suppress its marker
    val compacted =
      if (zorderBy.nonEmpty) {
        // Z-ORDER variant (Delta OPTIMIZE ZORDER analog): instead of hash
        // buckets, range-partition + sort on (date, z) so every output file
        // covers a tight hyper-rectangle of the z-columns. Range sampling
        // sees heavy dates proportionally, so file sizing still tracks
        // targetFileBytes without the per-date bucket join. Explicit
        // partition count keeps AQE from coalescing the layout away.
        val zCol = "__graft_z"
        df.withColumn(zCol, ZOrder.zvalue(df, zorderBy, bits = 6))
          .repartitionByRange(totalBuckets.min(20000).toInt,
            col("date"), col(zCol))
          .sortWithinPartitions(col("date"), col(zCol))
          .drop(zCol)
      } else binPack(df, bucketsFor)
    compacted.write.mode("overwrite").partitionBy("date")
      .option("partitionOverwriteMode", "static")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(tgt)
    beforeCommitHook()
    withCommitLock(f, dir, staleLockMs) {
      val after = listSrc()
      val afterSet = after.map(s => relOf(s._1)).toSet
      val removed = snapshot -- afterSet
      if (removed.nonEmpty) {
        // a snapshot file VANISHED: a partition rewrite (merge / delete /
        // replaceWhere) raced this compaction — our output holds rows the
        // rewriter replaced. True conflict: abort cleanly, re-run.
        f.delete(new Path(tgt), true)
        throw new ConcurrentWriteException(
          s"$dir: ${removed.size} source files were rewritten during " +
            "compaction (a partition rewrite raced it) — re-run the compact")
      }
      // REBASE concurrent appends: files that appeared since the snapshot
      // COPY into the new generation (never move — the source generation
      // stays live and complete until the _SUCCESS lands)
      after.filter(s => !snapshot.contains(relOf(s._1))).foreach { case (p, _) =>
        val dst = new Path(tgt, relOf(p))
        f.mkdirs(dst.getParent)
        org.apache.hadoop.fs.FileUtil.copy(f, new Path(p), f, dst, false,
          spark.sparkContext.hadoopConfiguration)
      }
      f.create(new Path(tgt, "_SUCCESS"), true).close() // the commit point
    }
    vacuum(spark, dir, keepFrom = nextN - 1)
    (before, listParquet(spark, tgt).size.toLong)
    } finally releaseClaim(f, dir, nextN)
  }

  /** Deterministic per-date hash bin-packing (shared by [[compact]] and
    * [[compactDates]]): spread each date's rows across its bucket count so
    * `partitionBy("date")` emits ~target-sized files, one per bucket.
    *
    * Bucket counts ride in the plan as one map literal holding only the
    * dates that need more than one bucket; every other date — the hourly
    * tick's case, so the map is usually empty — defaults to one. A literal
    * costs no job (the broadcast join of a local frame it replaces cost
    * one per call); its lookup scans the map's keys, so per-row cost grows
    * with the number of over-target dates in a full [[compact]]. The
    * internal column carries an improbable prefix: a user table with a
    * column of the same name would otherwise be silently overwritten and
    * dropped from the output.
    *
    * The bucket key must be DETERMINISTIC under task retry: a recomputed
    * map task must assign every row the same bucket already-fetched
    * reducer output saw, or the retry silently duplicates/loses rows (the
    * classic repartition-by-rand corruption). Hash the row's own columns
    * (skipping unhashable map types); byte-identical duplicate rows then
    * share a bucket, which skews only degenerate all-duplicate dates.
    */
  private def binPack(df: DataFrame,
      bucketsFor: Map[String, Long]): DataFrame = {
    import org.apache.spark.sql.functions._
    val bCol = "__graft_compact_b"
    val nb = typedLit(bucketsFor.filter(_._2 > 1L))
      .getItem(df.col("date").cast("string"))
    val hashCols = df.schema.fields
      .filter(f => hashableType(f.dataType)).map(f => df.col(f.name))
    val rowKey = if (hashCols.isEmpty) lit(0L) else xxhash64(hashCols.toIndexedSeq: _*)
    val bucketed = df.withColumn(bCol, pmod(rowKey, coalesce(nb, lit(1L))))
    // every (date, bucket) lands wholly in one task; partitionBy("date")
    // then emits one file per bucket. The partition count is EXPLICIT —
    // a column-only repartition is subject to AQE coalescing, which at
    // small scale merges all buckets back into one task and silently
    // undoes the bin-packing (2x the bucket count keeps same-date hash
    // collisions — which merge two buckets into one bigger file — rare).
    val totalBuckets = math.max(1L, bucketsFor.values.sum)
    bucketed.repartition((totalBuckets * 2).min(20000).toInt,
        col("date"), col(bCol))
      .drop(bCol)
  }

  /** Delta-OPTIMIZE-shaped INCREMENTAL maintenance: bin-pack ONLY `dates`,
    * rewriting those partitions in place (staged write, then dynamic
    * partition overwrite) inside the current generation. The hourly tick
    * passes just the dates it closes (each date once, after its last
    * hour), so per-tick maintenance is O(closed partitions) — rewriting
    * the whole table into a new generation every hour would make the
    * tick O(history), which is exactly what Delta's OPTIMIZE avoids by
    * rewriting only under-target file groups. The table-wide [[compact]] remains the full-OPTIMIZE /
    * re-layout (z-order) path with its reader-safe generation swap.
    *
    * Guarantees (weaker than the generation swap, same as [[append]] /
    * [[upsertPartitions]]): a reader listing a TOUCHED partition during
    * the publish can see it mid-swap. DURABILITY however matches the
    * generation swap: the staged copy is committed (its own `_SUCCESS`)
    * before the first destination byte is touched and retained until
    * every partition rename has landed, so a crash anywhere inside the
    * publish is recovered by re-publishing from stage on the next call
    * ([[recoverStage]]) — committed curated history is never lost.
    * Untouched partitions are never at risk.
    *
    * The publish itself is per-partition `delete old; rename staged in` —
    * filesystem renames, not a second Spark write: the staged bin-packed
    * files land EXACTLY as staged (a re-read would re-split them at
    * `spark.sql.files.maxPartitionBytes` and undo the packing).
    *
    * READER CONTRACT: this is in-place dynamic partition overwrite, so a
    * reader resolving file lists DURING the publish can observe a touched
    * partition briefly absent (and one that resolved just before loses its
    * files mid-scan) — the same window Spark's own dynamic overwrite and
    * Hive have, and the inherent trade of an O(touched-partitions) hourly
    * tick. Durability is never at risk (the committed stage re-publishes
    * after any crash). Tables with concurrent readers during compaction
    * should use [[compact]] instead: its generation swap keeps the entire
    * superseded generation readable until the next rewrite. The ingest
    * pipeline calls this only from within a tick, where the serve loop is
    * the single writer and result tables are what readers consume.
    *
    * A legacy flat table (no committed generation) falls back to the full
    * [[compact]] — the one-time generational migration.
    */
  def compactDates(spark: SparkSession, dir: String, dates: Seq[String],
      schema: Option[StructType] = None,
      targetFileBytes: Long = 512L * 1024 * 1024): (Long, Long) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive")
    if (dates.isEmpty) return (0L, 0L)
    val cur = currentGeneration(spark, dir)
    if (cur.isEmpty) return compact(spark, dir, schema, targetFileBytes)
    val dataDir = cur.get._2
    val f = fs(spark, dir)
    // NOT dot/underscore-prefixed: Spark's file index treats those as
    // hidden and would refuse to read the staged files back. The name
    // can't collide with generation dirs (GenName) or date= partitions,
    // and readers only ever resolve through currentGeneration.
    val stage = new Path(dir, "compact_stage.tmp")
    // claim every date this call touches — OUR dates plus any a leftover
    // crashed stage holds (recovery renames into those partitions) — for
    // the whole read→stage→publish window: same-date merges/deletes/
    // appends serialize against the rewrite instead of silently losing
    // files to publishStage's delete+rename swap
    val stagedDates: Seq[String] =
      if (!f.exists(stage)) Nil
      else f.listStatus(stage).toSeq.collect {
        case s if s.isDirectory && s.getPath.getName.startsWith("date=") =>
          unescapePath(s.getPath.getName.stripPrefix("date="))
      }
    withDateClaims(f, dir, (dates.map(String.valueOf) ++ stagedDates).distinct,
      30L * 60 * 1000) {
    recoverStage(f, stage, dataDir)
    val partDirs = dates.distinct
      .map(d => new Path(dataDir, s"date=$d"))
      .filter(f.exists(_)).map(_.toString)
    if (partDirs.isEmpty) return (0L, 0L)
    val files = partDirs.flatMap(p => listParquetStatus(spark, p))
    val before = files.size.toLong
    val DateSeg = ".*/date=([^/]+)/.*".r
    val bucketsFor: Map[String, Long] = files
      .flatMap { case (p, len) => p match {
        case DateSeg(d) => Some(unescapePath(d) -> len)
        case _ => None
      }}
      .groupMapReduce(_._1)(_._2)(_ + _)
      .view.mapValues(b =>
        math.max(1L, (b + targetFileBytes - 1) / targetFileBytes))
      .toMap
    val reader = schema.orElse(declaredSchema(spark, dir))
      .fold(spark.read)(s => spark.read.schema(s))
    val df = reader.option("basePath", dataDir).parquet(partDirs: _*)
    // stage OUTSIDE the generation dir (readers of the generation never
    // see it); the static-mode committer writes stage/_SUCCESS LAST, which
    // is what marks the stage publishable/recoverable
    binPack(df, bucketsFor)
      .write.mode("overwrite").partitionBy("date")
      .option("partitionOverwriteMode", "static").parquet(stage.toString)
    publishStage(f, stage, dataDir)
    val after = partDirs.map(p => listParquetStatus(spark, p).size.toLong).sum
    (before, after)
    }
  }

  /** Swap every staged `date=` dir into the generation via rename, keep
    * the generation's visibility marker, and only then drop the stage.
    * Idempotent: each partition is either still in stage (publish it) or
    * already renamed in (done) — safe to re-run after a crash at any
    * point.
    */
  private def publishStage(f: FileSystem, stage: Path,
      dataDir: String): Unit = {
    val staged = f.listStatus(stage)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("date="))
    staged.foreach { sd =>
      val dst = new Path(dataDir, sd.getPath.getName)
      if (f.exists(dst)) f.delete(dst, true)
      require(f.rename(sd.getPath, dst),
        s"publish rename failed: ${sd.getPath} -> $dst")
    }
    // dynamic-partition-style publishes write no top-level _SUCCESS; the
    // generation's visibility marker must survive
    val marker = new Path(dataDir, "_SUCCESS")
    if (!f.exists(marker)) f.create(marker).close()
    f.delete(stage, true)
  }

  /** Crash recovery for [[compactDates]]. An uncommitted stage (no
    * `_SUCCESS`) is a dead half-write — drop it (the source partitions
    * were never touched). A COMMITTED stage publishes ONLY the dates whose
    * generation copy is MISSING: those crashed inside publishStage's
    * delete→rename window and their sole surviving copy is the staged one.
    * Dates still present in the generation keep the LIVE copy and their
    * staged twin is DROPPED — the partition may have been rewritten
    * (merge / deleteWhere / replaceWhere) since the stage was computed,
    * and re-publishing the stale stage would resurrect replaced rows;
    * since compaction preserves content, dropping its output costs
    * nothing. Residual caveat (documented, not closed): a deleteWhere
    * that DROPPED a staged date entirely between the crash and this
    * recovery is indistinguishable from the crash window and the staged
    * copy is restored — closing it needs a generation-bound stage marker.
    */
  private def recoverStage(f: FileSystem, stage: Path,
      dataDir: String): Unit =
    if (f.exists(stage)) {
      if (f.exists(new Path(stage, "_SUCCESS"))) {
        val staged = f.listStatus(stage).filter(s =>
          s.isDirectory && s.getPath.getName.startsWith("date="))
        val missing = staged.filter(sd =>
          !f.exists(new Path(dataDir, sd.getPath.getName)))
        missing.foreach { sd =>
          val dst = new Path(dataDir, sd.getPath.getName)
          require(f.rename(sd.getPath, dst),
            s"stage recovery rename failed: ${sd.getPath} -> $dst")
        }
        val marker = new Path(dataDir, "_SUCCESS")
        if (!f.exists(marker)) f.create(marker).close()
        f.delete(stage, true)
      } else f.delete(stage, true)
    }

  /** Types `xxhash64` can hash (maps are rejected by Spark's HashExpression). */
  private def hashableType(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: StructType => s.fields.forall(f => hashableType(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashableType(a.elementType)
      case _ => true
    }

  /** Undo Hive-style partition-path escaping (`%xx` hex pairs). */
  private def unescapePath(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val hex = if (c == '%' && i + 3 <= s.length)
        scala.util.Try(
          Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar).toOption
      else None
      hex match {
        case Some(h) => sb.append(h); i += 3
        case None => sb.append(c); i += 1
      }
    }
    sb.toString
  }

  /** Delete generations below `keepFrom` plus, once generations exist,
    * leftover legacy flat partition dirs (they are two swaps old by then).
    */
  private def vacuum(spark: SparkSession, dir: String, keepFrom: Int): Unit = {
    val f = fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) return
    val ClaimName = "^g(\\d+)\\.claim$".r
    // stats_g<N>: min/max sidecars earlier builds wrote; nothing reads them
    val StatsName = "^stats_g(\\d+)$".r
    val BloomName = "^bloom_g(\\d+)$".r
    f.listStatus(root).foreach { s =>
      if (s.isDirectory) s.getPath.getName match {
        case GenName(n) if n.toInt < keepFrom => f.delete(s.getPath, true)
        case StatsName(n) if n.toInt < keepFrom => f.delete(s.getPath, true)
        case BloomName(n) if n.toInt < keepFrom => f.delete(s.getPath, true)
        case name if name.startsWith("date=") && keepFrom >= 0 =>
          f.delete(s.getPath, true)
        case _ => ()
      }
      else s.getPath.getName match {
        // claims of long-committed generations are garbage
        case ClaimName(n) if n.toInt < keepFrom => f.delete(s.getPath, false)
        case _ => ()
      }
    }
  }
}
