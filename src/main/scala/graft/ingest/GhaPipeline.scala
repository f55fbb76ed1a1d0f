package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.TableStore
import graft.time.Increments

/** The production flow, end to end (SURVEY.md §3.1): NDJSON hourly files →
  * six curated date-partitioned tables → compaction → the two analytics
  * result tables (`/root/reference/preprocess.py:247-266`).
  *
  * Execution shape vs the reference: one declarative read replaces the
  * manual `client.map` fan-out over files (file-per-task falls out of gzip
  * unsplittability); independent write chains run concurrently
  * ([[Fanout]], the `client.map` over tables); the partitions a batch
  * touched come back from the append commits rather than from a scan; and
  * the Prefect layer is this thin driver object.
  *
  * The hourly tick with views ([[incrementalRunWithViews]]) is two
  * fan-outs. Phase A ([[ingestWith]]): the six curated appends off one
  * persisted parse, beside the four view folds, which read only the same
  * batch frames. Phase B ([[compactTouched]]): the six per-table
  * `compactDates` calls, beside the two result-table overwrites, which
  * read only the views phase A finished. The batch path ([[workflow]])
  * fans out only its appends; its six full compactions and its two
  * result overwrites, which read the compacted curated tables, run one
  * after another.
  */
object GhaPipeline {

  /** Ingest a batch of NDJSON files into the curated store. */
  def ingest(spark: SparkSession, paths: Seq[String], storeDir: String): Unit =
    ingestWith(spark, paths, storeDir)(_ => Nil)

  /** Test hook: named crash-injection points inside a tick. A spec that
    * throws from it simulates the process dying at exactly that point
    * (ChaosPipelineSpec sweeps every point and proves the resumed run is
    * byte-identical to a never-crashed one). Production no-op.
    *
    * Order within one [[incrementalRunWithViews]] tick:
    *  - `post-inflight-marker`;
    *  - `pre-views`, just before phase A starts: no append or fold of the
    *    batch has written yet;
    *  - on phase A's threads, after each task's write: `post-append:<t>`
    *    per curated table and `post-view:<v>` per view, in any order;
    *  - `post-ingest`, once every phase A task finished;
    *  - on phase B's threads, after each task's write: `post-compact:<t>`
    *    per curated table and `post-result:commits` /
    *    `post-result:comments`, in any order;
    *  - `post-compact` then `post-results`, both once every phase B task
    *    finished (the compactions and the publish end together);
    *  - `post-hwm`.
    */
  @volatile private[ingest] var chaosHook: String => Unit = _ => ()

  /** [[ingest]] plus tasks over the batch's curated frames — phase A of
    * the hourly tick. `besides` receives the frames while the parsed raw
    * is persisted and returns named tasks (the views path: the view folds
    * of the SAME batch the appends write, without re-parsing); they run in
    * one [[Fanout]] with the six appends, so they must not read the
    * curated store. Returns, once every task finished, the distinct `date`
    * values the batch wrote across all tables (null for the default
    * partition, sorted first).
    *
    * Whichever task's job reaches the unloaded parse cache first loads
    * it. A task whose plan has a shuffle (an aggregating fold) and is
    * planned before that happened adds a job of its own that waits on the
    * load (AQE's table-cache stage), so the views tick runs 40 to 42 jobs
    * depending on thread timing.
    */
  def ingestWith(spark: SparkSession, paths: Seq[String], storeDir: String)(
      besides: Map[String, DataFrame] => Seq[(String, () => Unit)])
      : Seq[String] = {
    val (raw, tables) = Ingest.extractAll(spark, paths)
    try {
      val appends = tables.toSeq.map { case (name, df) =>
        name -> { () =>
          val dates = TableStore.append(df, s"$storeDir/$name")
          chaosHook(s"post-append:$name")
          dates
        }
      }
      val others = besides(tables).map { case (name, run) =>
        name -> { () => run(); Seq.empty[String] }
      }
      chaosHook("pre-views")
      Fanout(spark, "append", appends ++ others)
        .flatten.distinct.sortBy(Option(_))
    } finally raw.unpersist()
  }

  /** Bulk maintenance: compact + vacuum every curated table in full
    * (`preprocess.py:199-206`) — the backfill/OPTIMIZE-everything path.
    */
  def compactAll(spark: SparkSession, storeDir: String): Unit =
    graft.schema.GhaSchemas.tableNames.foreach { t =>
      TableStore.compact(spark, s"$storeDir/$t",
        Some(graft.schema.GhaSchemas.curated(t)))
    }

  /** Hourly maintenance: bin-pack only the date partitions the tick's
    * batch touched. The full-table compact rewrites ALL of history into a
    * new generation — O(table) every hour, which at 100 TB dwarfs the
    * O(batch) tick it rides on (Delta's OPTIMIZE, the reference's analog
    * at `preprocess.py:199-206`, only rewrites under-target file groups
    * for the same reason).
    *
    * Phase B of the hourly tick: the six tables compact concurrently, in
    * one [[Fanout]] with the named tasks `besides` (the views path: the
    * two result overwrites), which therefore must not read the curated
    * tables. A failure in any task surfaces only after every other has
    * finished, so no `compact_stage.tmp` is mid-write when recovery runs.
    */
  def compactTouched(spark: SparkSession, storeDir: String,
      dates: Seq[String], besides: Seq[(String, () => Unit)]): Unit =
    Fanout(spark, "compact", graft.schema.GhaSchemas.tableNames.map { t =>
      t -> { () =>
        TableStore.compactDates(spark, s"$storeDir/$t", dates,
          Some(graft.schema.GhaSchemas.curated(t)))
        chaosHook(s"post-compact:$t")
      }
    } ++ besides)

  /** The views tick's two result overwrites as named tasks
    * (`results/commits`, `results/comments`), each firing
    * `post-result:<commits|comments>` after its write. They run in phase
    * B's fan-out, so their jobs are described `tick:compact:results/<name>`;
    * [[workflow]]'s overwrites run on the caller's thread, undescribed.
    * `results` is built once, on the first task's thread (its file
    * listings and analysis then overlap the task's siblings).
    */
  private def publishTasks(storeDir: String,
      results: => (DataFrame, DataFrame)): Seq[(String, () => Unit)] = {
    lazy val frames = results
    Seq("commits" -> (() => frames._1), "comments" -> (() => frames._2)).map {
      case (name, df) => s"results/$name" -> { () =>
        TableStore.overwrite(df(), s"$storeDir/results/$name")
        chaosHook(s"post-result:$name")
      }
    }
  }

  /** The `query_data` analytics (`preprocess.py:209-244`), parameterized by
    * keyword (reference hardcodes " dask"). Returns (commits, comments)
    * result frames; popular = repos with more than `minWatches` watchers.
    */
  def queryData(spark: SparkSession, storeDir: String,
      keyword: String = " dask", minWatches: Long = 5)
      : (DataFrame, DataFrame) = {
    import graft.schema.GhaSchemas.curated
    val watch = TableStore.read(spark, s"$storeDir/watch", curated("watch"))
    val commit = TableStore.read(spark, s"$storeDir/commit", curated("commit"))
    val comment =
      TableStore.read(spark, s"$storeDir/comment", curated("comment"))

    // repos = watches.repo.value_counts(); repos[repos > 5]  (215-216)
    // No broadcast() hint: distinct repos grow with data, so the forced
    // broadcast the reference hand-rolls (repartition(npartitions=1),
    // preprocess.py:216) OOMs at 100x scale. AQE broadcasts when the
    // aggregate is actually small and shuffles when it isn't.
    val repos = watch.groupBy("repo").agg(count(lit(1)).as("count"))
      .filter(col("count") > minWatches)

    // commits mentioning the keyword in popular non-self repos (218-230).
    // Row-local predicates are IncrementalViews' — the single definition
    // both the batch and the view-maintenance paths share (they commute
    // with the inner popularity join).
    val commitsOut = IncrementalViews.commitFilter(commit, keyword)
      .join(repos, Seq("repo"))
      .select("username", "repo", "message", "count")
      .orderBy(desc("count"), asc("username"), asc("message"))

    // comments mentioning the keyword (233-244)
    val commentsOut = IncrementalViews.commentFilter(comment, keyword)
      .join(repos, Seq("repo"))
      .select("username", "repo", "comment", "count")
      .orderBy(desc("count"), asc("username"), asc("comment"))

    (commitsOut, commentsOut)
  }

  /** Full workflow parity (`preprocess.py:247-266`): ingest → compact →
    * query → overwrite result tables.
    */
  def workflow(spark: SparkSession, paths: Seq[String], storeDir: String,
      keyword: String = " dask"): Unit = {
    ingest(spark, paths, storeDir)
    compactAll(spark, storeDir)
    val (commits, comments) = queryData(spark, storeDir, keyword)
    TableStore.overwrite(commits, s"$storeDir/results/commits")
    TableStore.overwrite(comments, s"$storeDir/results/comments")
  }

  // ---- exactly-once bookkeeping -------------------------------------------
  // Two tiny marker files play the role of the Delta tx log the reference
  // leans on (`preprocess.py:169-186`):
  //  - `_ingest_hwm`     : start instant of the last fully ingested hour —
  //                        the O(1) resume point (no table scan at all);
  //  - `_ingest_inflight`: "<start>|<stop>" written BEFORE a batch's appends
  //                        and cleared AFTER `_ingest_hwm` advances. Its
  //                        presence on startup means a previous run died
  //                        mid-append, and the covered hours must be rolled
  //                        back before re-ingesting (appends alone would
  //                        duplicate them — Delta gets this from ACID).

  private def markerFs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeMarker(spark: SparkSession, path: String, v: String): Unit = {
    import org.apache.hadoop.fs.Path
    val f = markerFs(spark, path)
    val tmp = new Path(path + ".tmp")
    val out = f.create(tmp, true)
    try out.write(v.getBytes("UTF-8")) finally out.close()
    val dst = new Path(path)
    if (f.exists(dst)) f.delete(dst, false)
    if (!f.rename(tmp, dst)) // Hadoop rename fails by returning false
      throw new java.io.IOException(s"marker rename failed: $tmp -> $dst")
  }

  private def readMarker(spark: SparkSession, path: String): Option[String] = {
    import org.apache.hadoop.fs.Path
    val f = markerFs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    }
  }

  private def deleteMarker(spark: SparkSession, path: String): Unit = {
    val f = markerFs(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (f.exists(p)) f.delete(p, false)
  }

  /** Start of the last fully ingested hour, if any run completed here. */
  def readHwm(spark: SparkSession, storeDir: String): Option[java.time.Instant] =
    readMarker(spark, s"$storeDir/_ingest_hwm")
      .map(java.time.Instant.parse)

  /** Roll back the half-written batch a dead run left behind: for every
    * curated table, rewrite the date partitions the batch touched WITHOUT
    * its rows (dynamic partition overwrite — `TableStore.upsertPartitions`),
    * and drop partitions whose every row came from the batch. Hour-grained
    * events inside date-grained partitions are why plain dynamic overwrite
    * can't be the ingest path itself: overwriting date D with only hour H
    * would erase D's other hours.
    */
  def recoverInflight(spark: SparkSession, storeDir: String): Boolean = {
    import org.apache.spark.sql.functions.{col, lit}
    val marker = s"$storeDir/_ingest_inflight"
    readMarker(spark, marker) match {
      case None => false
      case Some(v) =>
        // a corrupt marker must fail ACTIONABLY: an unhandled MatchError /
        // parse error here would escape every tick forever (the marker is
        // never cleared and Serve just backs off) with no hint at the cause
        val parsed = v.split('|') match {
          case Array(s, e) =>
            try Some((java.time.Instant.parse(s), java.time.Instant.parse(e)))
            catch { case _: java.time.format.DateTimeParseException => None }
          case _ => None
        }
        val (start, stopInst) = parsed.getOrElse(throw new java.io.IOException(
          s"""corrupt _ingest_inflight marker at $marker (contents: "$v") — """ +
            "cannot determine the half-written batch's hour range. Inspect " +
            "the store, roll back the affected partitions manually, then " +
            "delete the marker to resume."))
        val stopEx = stopInst.plusSeconds(3600)
        val hwmOk = readHwm(spark, storeDir)
          .exists(h => !h.isBefore(stopInst))
        if (!hwmOk) {
          val affectedDates: Seq[String] = Iterator
            .iterate(start)(_.plusSeconds(3600))
            .takeWhile(_.isBefore(stopEx))
            .map(_.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString)
            .distinct.toSeq
          val lo = java.sql.Timestamp.from(start)
          val hi = java.sql.Timestamp.from(stopEx)
          graft.schema.GhaSchemas.tableNames.foreach { t =>
            val dir = s"$storeDir/$t"
            val df = try {
              Some(TableStore.read(spark, dir, graft.schema.GhaSchemas.curated(t)))
            } catch { case _: org.apache.spark.sql.AnalysisException => None }
            df.foreach { d =>
              // materialize the survivors BEFORE overwriting: the rewrite
              // targets the very path the filter reads (localCheckpoint
              // breaks the read-own-write-path conflict; the survivor set is
              // bounded by the batch's few date partitions)
              val keep = d
                .filter(col("date").cast("string").isin(affectedDates: _*))
                .filter(!(col("created_at") >= lit(lo) &&
                  col("created_at") < lit(hi)))
                .localCheckpoint()
              val present = keep.select(col("date").cast("string"))
                .distinct().collect().map(_.getString(0)).toSet
              if (present.nonEmpty)
                TableStore.upsertPartitions(spark, keep, dir)
              affectedDates.filterNot(present).foreach(dd =>
                TableStore.dropPartition(spark, dir, dd))
            }
          }
        }
        deleteMarker(spark, marker)
        !hwmOk
    }
  }

  /** The self-driving hourly run (`workflow(start=None, stop=None)` parity,
    * `preprocess.py:178-196, 247-266`): recover any half-written batch,
    * derive the range from the store's own high-watermark, ingest only the
    * landing files inside it, then compact + query. Returns the ingested
    * paths (empty when already caught up). Re-running the same tick is a
    * no-op; dying mid-tick and re-running replaces rather than duplicates.
    *
    * Resume point: the `_ingest_hwm` marker (O(1)); stores predating the
    * marker fall back to the max data watermark across ALL six tables (the
    * reference reads only the comment tx log, `preprocess.py:181` — an hour
    * whose file has commits but no comments would then be re-ingested and
    * duplicated). File naming follows GH Archive: `YYYY-MM-DD-H.json`
    * (hour unpadded).
    */
  def incrementalRun(spark: SparkSession, landingDir: String,
      storeDir: String, now: java.time.Instant,
      backfillStart: java.time.Instant,
      keyword: String = " dask"): Seq[String] = {
    recoverInflight(spark, storeDir)
    val hourly = pendingHours(spark, landingDir, storeDir, now, backfillStart)
    if (hourly.nonEmpty) {
      val lastHour = hourly.last._1
      writeMarker(spark, s"$storeDir/_ingest_inflight",
        s"${hourly.head._1}|$lastHour")
      workflow(spark, hourly.map(_._2), storeDir, keyword)
      writeMarker(spark, s"$storeDir/_ingest_hwm", lastHour.toString)
      deleteMarker(spark, s"$storeDir/_ingest_inflight")
    }
    hourly.map(_._2)
  }

  /** The contiguous run of landed, not-yet-ingested hours: STRICTLY halts
    * at the first hour with no landed file. Skipping a gap would advance
    * the hwm past it, and the late-published file would then be silently
    * lost forever (hourly archives publish in order; a hole means "not
    * yet", not "never"). Matches the reference, whose date_range covers
    * every hour and whose flow fails rather than skips
    * (preprocess.py:193-196, 260-261).
    */
  private def pendingHours(spark: SparkSession, landingDir: String,
      storeDir: String, now: java.time.Instant,
      backfillStart: java.time.Instant)
      : Seq[(java.time.Instant, String)] = {
    val (start, stop) = resumeRange(spark, storeDir, now, backfillStart)
    Iterator.iterate(start)(_.plusSeconds(3600))
      .takeWhile(!_.isAfter(stop))
      .map(h => (h, landedFile(spark, landingDir, h)))
      .takeWhile(_._2.isDefined)
      .map { case (h, f) => (h, f.get) }
      .toSeq
  }

  /** Crash-atomic recovery for the views path. `recoverInflight` consumes
    * the inflight marker, so "views need a rebuild" must be recorded
    * DURABLY before the rollback starts: a crash between marker deletion
    * and rebuild completion would otherwise leave the views silently
    * diverged forever (the next tick sees no marker, skips the rebuild,
    * and re-folds the replayed hour into double-counted views). The
    * `_mv_stale` marker is written while the inflight marker still
    * exists and cleared only after a COMPLETED rebuild — any crash in
    * between re-enters the rebuild on the next tick.
    */
  private def recoverWithViews(spark: SparkSession, storeDir: String,
      mvDir: String, keyword: String): Unit = {
    val stale = s"$mvDir/_mv_stale"
    if (readMarker(spark, s"$storeDir/_ingest_inflight").isDefined)
      writeMarker(spark, stale, "rebuild-pending")
    recoverInflight(spark, storeDir)
    if (readMarker(spark, stale).isDefined) {
      IncrementalViews.rebuild(spark, storeDir, mvDir, keyword)
      deleteMarker(spark, stale)
    }
  }

  /** [[incrementalRun]] with incremental `query_data` maintenance
    * ([[IncrementalViews]]): same exactly-once bookkeeping, but each tick
    * folds the batch into the materialized views and serves the result
    * tables from them, instead of recomputing the analytics over full
    * history. A recovery that rolled curated tables back rebuilds the
    * views from the recovered store before the tick proceeds (full
    * recompute as the recovery path; the happy path never scans history).
    *
    * The tick is two fan-outs, each returning only after all its tasks
    * finished: phase A appends the batch to the six curated tables beside
    * the four view folds ([[ingestWith]]); phase B bin-packs the touched
    * partitions of the six tables beside the two result overwrites
    * ([[compactTouched]]). Every write of both phases sits inside the
    * `_ingest_inflight` scope, so a crash in any task leaves `_mv_stale`
    * to be set by the next tick's recovery, which rolls the curated
    * tables back and rebuilds the views.
    */
  def incrementalRunWithViews(spark: SparkSession, landingDir: String,
      storeDir: String, mvDir: String, now: java.time.Instant,
      backfillStart: java.time.Instant,
      keyword: String = " dask"): Seq[String] = {
    recoverWithViews(spark, storeDir, mvDir, keyword)
    val hourly = pendingHours(spark, landingDir, storeDir, now, backfillStart)
    if (hourly.nonEmpty) {
      val lastHour = hourly.last._1
      writeMarker(spark, s"$storeDir/_ingest_inflight",
        s"${hourly.head._1}|$lastHour")
      chaosHook("post-inflight-marker")
      // touched dates come from the batch DATA (the partitions the appends
      // committed), not the hour range: an event's created_at (the
      // partition value) can fall on the previous UTC date at an
      // hour-file boundary
      val touched = ingestWith(spark, hourly.map(_._2), storeDir) { tables =>
        IncrementalViews.maintainTick(spark, tables, mvDir, keyword).map {
          case (view, fold) => view -> { () =>
            fold()
            chaosHook(s"post-view:$view")
          }
        }
      }
      chaosHook("post-ingest")
      // maintenance stays O(batch): bin-pack only the touched partitions
      compactTouched(spark, storeDir, touched, publishTasks(storeDir,
        IncrementalViews.queryData(spark, mvDir, keyword)))
      chaosHook("post-compact")
      chaosHook("post-results")
      writeMarker(spark, s"$storeDir/_ingest_hwm", lastHour.toString)
      chaosHook("post-hwm")
      deleteMarker(spark, s"$storeDir/_ingest_inflight")
    }
    hourly.map(_._2)
  }

  /** [start, stop] of the next tick: O(1) hwm marker, data-watermark
    * fallback, incomplete-hour guard (shared by local and fetching runs).
    */
  def resumeRange(spark: SparkSession, storeDir: String,
      now: java.time.Instant, backfillStart: java.time.Instant)
      : (java.time.Instant, java.time.Instant) = {
    val wm = readHwm(spark, storeDir).orElse {
      graft.schema.GhaSchemas.tableNames
        .flatMap(t => Increments.watermark(spark, s"$storeDir/$t"))
        .map(_.toInstant)
        .maxOption(Ordering.fromLessThan[java.time.Instant](_ isBefore _))
    }
    Increments.nextRange(wm, now, backfillStart)
  }

  private val hourFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd-").withZone(java.time.ZoneOffset.UTC)

  /** GH-Archive file name for hour `h` (unpadded hour), without extension. */
  def hourStem(h: java.time.Instant): String =
    s"${hourFmt.format(h)}${h.atZone(java.time.ZoneOffset.UTC).getHour}"

  /** The landed file for hour `h` if present: plain `.json` (local drops)
    * or `.json.gz` (what `Fetch.download` lands — Spark's text source
    * decompresses either transparently). Existence goes through the Hadoop
    * FileSystem of the landing path, so HDFS/S3 landing dirs — the ones
    * `Fetch` writes to in production — resolve exactly like local ones.
    */
  private def landedFile(spark: SparkSession, landingDir: String,
      h: java.time.Instant): Option[String] = {
    import org.apache.hadoop.fs.Path
    val f = markerFs(spark, landingDir)
    Seq(".json", ".json.gz")
      .map(ext => s"$landingDir/${hourStem(h)}$ext")
      .find(p => f.exists(new Path(p)))
  }

  /** Full remote-source parity with `workflow(start=None, stop=None)` +
    * `process_file`'s HTTP fetch (`preprocess.py:144-147, 247-266`): derive
    * the resume range, DOWNLOAD the missing hourly `.json.gz` files from
    * `baseUrl` (distributed, retried — `Fetch.download`), then run the
    * normal incremental tick over the landing dir. Hours whose download
    * fails after retry exhaustion are retried next tick (the hwm only
    * advances through ingested hours, and an ingested batch never spans a
    * gap: it stops at the first missing hour so a late-published file can
    * never be skipped).
    *
    * Two failure policies on top:
    *  - PERMANENT GAPS: real archives have hours that will never exist
    *    (outages). An hour that still 404s `gapGraceHours` after its
    *    publish time is recorded as an EMPTY landing file — the tombstone
    *    makes the range contiguous again so the watermark can advance past
    *    it. 5xx/timeouts never tombstone (the upstream may be down, not
    *    the hour absent).
    *  - DEAD UPSTREAM: if every download of a tick failed AND nothing got
    *    ingested, the tick throws, so `Serve.loop`'s exponential backoff
    *    actually engages (recorded-not-thrown failures would otherwise
    *    look like a clean idle tick and hot-spin the hourly loop).
    */
  def fetchAndRun(spark: SparkSession, baseUrl: String, landingDir: String,
      storeDir: String, now: java.time.Instant,
      backfillStart: java.time.Instant, keyword: String = " dask",
      retries: Int = 10, gapGraceHours: Int = 48,
      mvDir: Option[String] = None): Seq[String] = {
    mvDir match {
      case Some(mv) => recoverWithViews(spark, storeDir, mv, keyword)
      case None => recoverInflight(spark, storeDir); ()
    }
    // recovery must precede the range read (its rollback affects the
    // data-watermark fallback); incrementalRun's own recover/resume repeat
    // is then a pair of O(1) marker reads — only a marker-less legacy
    // store's first tick ever pays the table-scan fallback twice.
    val (start, stop) = resumeRange(spark, storeDir, now, backfillStart)
    val missing: Seq[(java.time.Instant, String)] =
      Iterator.iterate(start)(_.plusSeconds(3600))
        .takeWhile(!_.isAfter(stop))
        .filter(h => landedFile(spark, landingDir, h).isEmpty)
        .map(h => (h, s"${baseUrl.stripSuffix("/")}/${hourStem(h)}.json.gz"))
        .toSeq
    // (blocking hour, its error, #failed) when the earliest missing hour
    // failed to download — the one failure that can stall the whole tick
    var blocking: Option[(java.time.Instant, String, Int)] = None
    if (missing.nonEmpty) {
      val st = Fetch.download(spark, missing.map(_._2), landingDir, retries)
        .collect()
      val failed = st.filter(!_.getAs[Boolean]("ok"))
      val hourOf = missing.map { case (h, u) => u -> h }.toMap
      val failedByHour = failed.iterator
        .map(r => hourOf(r.getAs[String]("url")) -> r.getAs[String]("error"))
        .toMap
      blocking = missing.collectFirst {
        case (h, _) if failedByHour.contains(h) =>
          (h, failedByHour(h), failed.length)
      }
      // grace counts from the hour's PUBLISH time (file H appears at H+1h),
      // so hour H is past grace when H + 1h + grace < now
      val cutoff = now.minusSeconds(3600L * (gapGraceHours + 1))
      failed.iterator
        .filter(_.getAs[String]("error").contains("HTTP 404"))
        .map(r => hourOf(r.getAs[String]("url")))
        .filter(_.isBefore(cutoff))
        .foreach { h =>
          val f = markerFs(spark, landingDir)
          f.create(new org.apache.hadoop.fs.Path(
            s"$landingDir/${hourStem(h)}.json"), true).close()
        }
    }
    val ingested = mvDir match {
      case Some(mv) => incrementalRunWithViews(spark, landingDir, storeDir,
        mv, now, backfillStart, keyword)
      case None =>
        incrementalRun(spark, landingDir, storeDir, now, backfillStart, keyword)
    }
    // STALLED TICK: nothing ingested and the earliest missing hour's
    // download failed — whether every download failed (dead upstream) or
    // later hours succeeded around a persistently failing first hour
    // (contiguity halt). A silent empty return here would read as a clean
    // idle tick: Serve's backoff never engages and the watermark stalls
    // with no error signal.
    for ((h, err, nFailed) <- blocking if ingested.isEmpty)
      throw new java.io.IOException(
        s"$nFailed of ${missing.size} downloads failed and nothing ingested " +
          s"— tick blocked at hour $h: $err")
    ingested
  }
}
