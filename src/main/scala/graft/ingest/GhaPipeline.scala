package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.TableStore
import graft.time.Increments

/** The production flow, end to end (SURVEY.md §3.1): NDJSON hourly files →
  * six curated date-partitioned tables → compaction → the two analytics
  * result tables (`preprocess.py:247-266`).
  *
  * Execution shape vs the reference: one declarative read replaces the
  * manual `client.map` fan-out over files (file-per-task falls out of gzip
  * unsplittability); independent write chains run concurrently
  * ([[Fanout]], the `client.map` over tables); the partitions a batch
  * touched come back from the append commits rather than from a scan; and
  * the Prefect layer is this thin driver object.
  *
  * There is one tick, [[incrementalRunWithViews]]: a catch-up over many
  * hours and the steady hourly run take the same path. It is two
  * fan-outs. Phase A ([[ingestWith]]): the six curated appends off one
  * persisted parse, beside the three view folds, which read only the same
  * batch frames. Phase B ([[compactTouched]]): the `compactDates` calls of
  * the six curated tables and two keyword views over the dates the tick
  * closes (none on most ticks: a date compacts once, after its last
  * hour), beside the two result-table overwrites, which read only the
  * views phase A finished.
  * The results come from the views ([[IncrementalViews.queryData]]),
  * never from a full-history recompute; the test tree keeps that
  * recompute as the reference the views are tested against.
  */
object GhaPipeline {

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
    *    per curated table (on a tick that closes a date only) and
    *    `post-result:commits` / `post-result:comments`, in any order;
    *  - `post-compact` then `post-results`, both once every phase B task
    *    finished (the compactions and the publish end together);
    *  - `post-hwm`.
    *
    * A tick whose recovery rebuilds the views (adoption, keyword change)
    * also fires `post-result:commits` / `post-result:comments` there,
    * before `post-inflight-marker`, when it publishes the rebuilt views.
    */
  @volatile private[ingest] var chaosHook: String => Unit = _ => ()

  /** Append a batch of NDJSON files to the six curated tables, beside
    * tasks over the batch's curated frames — phase A of the hourly tick.
    * `besides` receives the frames while the parsed raw is persisted and
    * returns named tasks (the tick's view folds of the SAME batch the
    * appends write, without re-parsing); they run in
    * one [[Fanout]] with the six appends, so they must not read the
    * curated store. Returns, once every task finished, the distinct `date`
    * values the batch wrote across all tables (null for the default
    * partition, sorted first).
    *
    * Whichever task's job reaches the unloaded parse cache first loads
    * it. A task whose plan has a shuffle (the aggregating `repo_counts`
    * fold) and is planned before that happened adds a job of its own that
    * waits on the load (AQE's table-cache stage), so a tick that closes
    * no date runs 15 or 16 jobs depending on thread timing.
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

  /** Hourly maintenance: bin-pack each date partition once, in the tick
    * that closes it. `dates` is the set [[incrementalRunWithViews]]
    * closes: the dates the batch touched plus the date the previous tick
    * left open, minus the date of the batch's last hour. Until its date
    * closes, each table keeps one append file set per ingested hour there.
    * No reader on the serve path needs the rewrite sooner, and re-packing
    * every touched date on every tick would rewrite each hour's rows about
    * 12 times a day (Delta's OPTIMIZE, the reference's analog at
    * `preprocess.py:199-206`, rewrites only under-target file groups for
    * the same reason). The two keyword views (`mvDir/kw_commits`,
    * `mvDir/kw_comments`) compact under the same rule.
    *
    * Phase B of the hourly tick: the tables compact concurrently, in one
    * [[Fanout]] with the named tasks `besides` (the tick's two result
    * overwrites). Each compaction is one log commit, so the overwrites
    * keep reading the view snapshot they planned on. With no date to close
    * the fan-out runs `besides` alone. A failure in any task surfaces only
    * after every other has finished.
    */
  def compactTouched(spark: SparkSession, storeDir: String, mvDir: String,
      dates: Seq[String], besides: Seq[(String, () => Unit)]): Unit = {
    import graft.schema.GhaSchemas.{curated, tableNames}
    val tables = if (dates.isEmpty) Nil else tableNames.map { t =>
      t -> { () =>
        TableStore.compactDates(spark, s"$storeDir/$t", dates, Some(curated(t)))
        chaosHook(s"post-compact:$t")
      }
    } ++ Seq("kw_commits" -> "commit", "kw_comments" -> "comment").map {
      case (v, t) => s"mv/$v" -> { () =>
        TableStore.compactDates(spark, s"$mvDir/$v", dates, Some(curated(t)))
        ()
      }
    }
    Fanout(spark, "compact", tables ++ besides)
  }

  /** The tick's two result overwrites as named tasks (`results/commits`,
    * `results/comments`), each firing `post-result:<commits|comments>`
    * after its write. They run in phase B's fan-out, so their jobs are
    * described `tick:compact:results/<name>` (`tick:recover:results/<name>`
    * when [[recover]] publishes rebuilt views). `results` is built once,
    * on the first task's thread (its file listings and analysis then
    * overlap the task's siblings).
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

  // ---- exactly-once bookkeeping -------------------------------------------
  // Two tiny marker files sit beside the tables' logs (the reference leans
  // on Delta's, `preprocess.py:169-186`):
  //  - `_ingest_hwm`     : start instant of the last fully ingested hour —
  //                        the O(1) resume point (no table scan at all);
  //  - `_ingest_inflight`: "<start>|<stop>|<table>=<version>,..." written
  //                        BEFORE a batch's appends, naming the log version
  //                        of each of the nine logged tables (six curated,
  //                        three views), and cleared AFTER `_ingest_hwm`
  //                        advances. Its presence on startup means a run
  //                        died mid-tick: recovery restores every table to
  //                        its recorded version (one restore commit each).
  // Two more live beside the views (see [[recover]]):
  //  - `<mvDir>/_mv_stale`  : the views must be rebuilt from the curated
  //                           store before the next fold (adoption, keyword
  //                           change);
  //  - `<mvDir>/_mv_keyword`: the keyword the views were built for
  //                           (URL-encoded: a keyword may start with a
  //                           space, and markers are read trimmed).

  /** The nine logged tables of a tick, by the name the inflight marker
    * records them under.
    */
  private def loggedTables(storeDir: String, mvDir: String): Seq[(String, String)] =
    graft.schema.GhaSchemas.tableNames.map(t => t -> s"$storeDir/$t") ++
      Seq("repo_counts", "kw_commits", "kw_comments").map(v => s"mv/$v" -> s"$mvDir/$v")

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

  /** Start-of-tick recovery, run before the range is read. Two jobs, in
    * this order:
    *
    *  - Roll back the tick a dead run left behind (`_ingest_inflight`
    *    present, hwm short of its last hour): each of the nine logged
    *    tables gets one restore commit back to the version the marker
    *    recorded ([[TableStore.restore]]). The rollback knows exactly which
    *    files the batch wrote — rows of an hour file that fall on the
    *    previous date included — and covers the views' folds and
    *    compactions too, so the views need no rebuild after a crash.
    *  - Adoption: a store that has ingested hours (`_ingest_hwm`) but whose
    *    `mvDir` holds no committed `repo_counts` (views added to an
    *    existing store, or deleted) is marked stale (`_mv_stale`), so its
    *    first fold starts from the store's history rather than from the
    *    batch alone. So are views built for another keyword (a daemon
    *    restarted with a new `keyword`): the keyword slices hold only
    *    their keyword's rows. The stale views are rebuilt
    *    ([[IncrementalViews.rebuild]]) and published to the result tables
    *    before the marker clears, since a tick with no new hour publishes
    *    nothing else; a crash in between leaves the rebuild pending. Views
    *    that predate the keyword marker are taken to match.
    */
  private def recover(spark: SparkSession, storeDir: String, mvDir: String,
      keyword: String): Unit = {
    val marker = s"$storeDir/_ingest_inflight"
    val stale = s"$mvDir/_mv_stale"
    val kwMarker = s"$mvDir/_mv_keyword"
    val kw = java.net.URLEncoder.encode(keyword, "UTF-8")
    val built = readMarker(spark, kwMarker)
    readMarker(spark, marker) match {
      case None =>
        if (built.exists(_ != kw) || (readHwm(spark, storeDir).isDefined &&
            TableStore.version(spark, s"$mvDir/repo_counts") < 0))
          writeMarker(spark, stale, "rebuild-pending")
      case Some(v) =>
        // a corrupt marker must fail ACTIONABLY: an unhandled MatchError /
        // parse error here would escape every tick forever (the marker is
        // never cleared and Serve just backs off) with no hint at the cause
        val parsed = v.split('|') match {
          case Array(s, e, vs) =>
            try Some((java.time.Instant.parse(s), java.time.Instant.parse(e),
              vs.split(',').map(_.split('=')).collect {
                case Array(t, n) => t -> n.toLong
              }.toMap))
            catch {
              case _: java.time.format.DateTimeParseException |
                  _: NumberFormatException => None
            }
          case _ => None
        }
        val (_, stop, versions) = parsed
          .filter(_._3.size == loggedTables(storeDir, mvDir).size)
          .getOrElse(throw new java.io.IOException(
            s"""corrupt _ingest_inflight marker at $marker (contents: "$v") — """ +
              "cannot determine the half-written tick's table versions. " +
              "Inspect the store, restore the affected tables manually, then " +
              "delete the marker to resume."))
        if (!readHwm(spark, storeDir).exists(h => !h.isBefore(stop)))
          loggedTables(storeDir, mvDir).foreach { case (t, dir) =>
            TableStore.restore(spark, dir, versions(t))
          }
        deleteMarker(spark, marker)
    }
    if (readMarker(spark, stale).isDefined) {
      IncrementalViews.rebuild(spark, storeDir, mvDir, keyword)
      // a tick that ingests nothing publishes nothing, so the rebuilt
      // views must reach `results/*` here; before the markers change, so
      // a crash mid-publish leaves the rebuild (and publish) pending
      Fanout(spark, "recover", publishTasks(storeDir,
        IncrementalViews.queryData(spark, mvDir, keyword)))
      writeMarker(spark, kwMarker, kw)
      deleteMarker(spark, stale)
    } else if (!built.contains(kw)) writeMarker(spark, kwMarker, kw)
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

  /** The hourly tick (parity with the reference's `workflow(start=None,
    * stop=None)`, `preprocess.py:178-196, 247-266`): [[recover]], derive
    * the range from the store's own high-watermark, ingest only the
    * landing files inside it, fold the batch into the materialized views
    * ([[IncrementalViews]]) and serve the result tables from them. Returns
    * the ingested paths (empty when already caught up). Re-running the
    * same tick is a no-op; dying mid-tick and re-running replaces rather
    * than duplicates.
    *
    * Resume point: the `_ingest_hwm` marker (O(1)); stores predating the
    * marker fall back to the max data watermark across ALL six tables (the
    * reference reads only the comment tx log, `preprocess.py:181` — an hour
    * whose file has commits but no comments would then be re-ingested and
    * duplicated). File naming follows GH Archive: `YYYY-MM-DD-H.json`
    * (hour unpadded).
    *
    * The tick is two fan-outs, each returning only after all its tasks
    * finished: phase A appends the batch to the six curated tables beside
    * the three view folds ([[ingestWith]]); phase B bin-packs the dates
    * this tick closes beside the two result overwrites
    * ([[compactTouched]]). The open date is the UTC date of the batch's
    * last hour. A tick closes the dates its batch touched and the date of
    * the hwm it started from, except the open date; the rule reads only
    * the batch and the hwm, so a re-run after a crash closes the same
    * dates. Every write of both phases sits inside the `_ingest_inflight`
    * scope, which records each logged table's version first, so a crash
    * in any task is undone by the next tick's recovery: one restore commit
    * per table. The happy path never scans history.
    */
  def incrementalRunWithViews(spark: SparkSession, landingDir: String,
      storeDir: String, mvDir: String, now: java.time.Instant,
      backfillStart: java.time.Instant,
      keyword: String = " dask"): Seq[String] = {
    recover(spark, storeDir, mvDir, keyword)
    // the date the previous tick left open; read before this tick moves
    // the hwm, so a re-run after a crash closes the same dates
    val prevOpen = readHwm(spark, storeDir).map(utcDate)
    val hourly = pendingHours(spark, landingDir, storeDir, now, backfillStart)
    if (hourly.nonEmpty) {
      val lastHour = hourly.last._1
      val versions = loggedTables(storeDir, mvDir).map { case (t, dir) =>
        s"$t=${TableStore.version(spark, dir)}"
      }
      writeMarker(spark, s"$storeDir/_ingest_inflight",
        s"${hourly.head._1}|$lastHour|${versions.mkString(",")}")
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
      // maintenance stays O(batch): bin-pack a date once, when it closes
      val open = utcDate(lastHour)
      val closed = (touched ++ prevOpen).distinct.filterNot(_ == open)
      compactTouched(spark, storeDir, mvDir, closed, publishTasks(storeDir,
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

  /** The `date` partition value of instant `h`: its UTC date. */
  private def utcDate(h: java.time.Instant): String =
    h.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

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

  /** Full remote-source parity with the reference's `workflow(start=None,
    * stop=None)` + `process_file`'s HTTP fetch (`preprocess.py:144-147,
    * 247-266`): derive the resume range, DOWNLOAD the missing hourly
    * `.json.gz` files from `baseUrl` (distributed, retried —
    * `Fetch.download`), then run [[incrementalRunWithViews]] over the
    * landing dir. Hours whose download fails after retry exhaustion are
    * retried next tick (the hwm only advances through ingested hours, and
    * an ingested batch never spans a gap: it stops at the first missing
    * hour so a late-published file can never be skipped).
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
      storeDir: String, mvDir: String, now: java.time.Instant,
      backfillStart: java.time.Instant, keyword: String = " dask",
      retries: Int = 10, gapGraceHours: Int = 48): Seq[String] = {
    recover(spark, storeDir, mvDir, keyword)
    // recovery must precede the range read (its rollback affects the
    // data-watermark fallback); the tick's own recover/resume repeat is
    // then a few O(1) marker reads and one listing — only a marker-less
    // legacy store's first tick ever pays the table-scan fallback twice.
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
    val ingested = incrementalRunWithViews(spark, landingDir, storeDir,
      mvDir, now, backfillStart, keyword)
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
