package graft.ingest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.schema.GhaSchemas
import graft.store.TableStore

/** Incremental maintenance of the `query_data` analytics — materialized
  * views updated per ingest tick instead of recomputed from full history.
  *
  * The reference recomputes `query_data` over the ENTIRE curated store
  * every hourly tick (`/root/reference/preprocess.py:209-244, 265`): at
  * 100 TB that is a full scan of the commit/comment/watch history to
  * produce a result that changed by one hour of data. The incremental
  * decomposition splits each query by what it needs:
  *
  *  - `repo_counts` — the watch count per repo is DISTRIBUTIVE: the new
  *    batch's partial counts merge into the stored totals by key. Tick
  *    cost: O(batch + distinct repos), not O(watch history).
  *  - `kw_commits` / `kw_comments` — the keyword/bot/prefix predicates are
  *    ROW-LOCAL: they are applied to the batch once and the survivors
  *    appended (date-partitioned). The popularity JOIN is deliberately NOT
  *    folded in: popularity changes over time, and a repo crossing the
  *    threshold at tick N must surface its tick-1 commits — so membership
  *    is resolved at read time against the CURRENT counts, over the
  *    keyword-matching slice only (a tiny fraction of history).
  *
  * [[queryData]] therefore returns exactly what [[GhaPipeline.queryData]]
  * returns on the same ingested history (equivalence is tested tick by
  * tick), while scanning keyword-survivors + the counts table instead of
  * everything.
  *
  * Crash contract: [[maintainTick]]'s folds are NOT idempotent (counts
  * would double-merge, appends would duplicate) — they must run inside
  * the same `_ingest_inflight` marker scope as the curated appends, and a
  * recovery that rolled curated tables back must [[rebuild]] the views
  * from them (full recompute as the RECOVERY path only; the happy path
  * stays incremental). [[GhaPipeline.incrementalRunWithViews]] wires
  * both: the folds run beside the curated appends, and the result tables
  * are published from [[queryData]] beside the compactions.
  */
object IncrementalViews {

  private val countsSchema = StructType(Seq(
    StructField("repo", org.apache.spark.sql.types.StringType),
    StructField("count", LongType)))

  /** Row-local commit-side predicates (`preprocess.py:218-230` minus the
    * popularity join). PUBLIC and shared with `GhaPipeline.queryData` —
    * one definition, so the tested batch≡views equivalence cannot drift.
    * The keyword lowers once here (the message side is lowercased per
    * row; an uppercase keyword argument would otherwise match nothing,
    * silently); the repo-prefix self-exclusion stays case-exact, matching
    * the reference's literal startswith (`preprocess.py:224`).
    */
  def commitFilter(df: DataFrame, keyword: String): DataFrame = df
    .filter(!col("username").contains("bot"))
    .filter(lower(col("message")).contains(keyword.toLowerCase))
    .filter(!col("repo").startsWith(keyword.trim + "/"))

  /** Row-local comment-side predicates (`preprocess.py:233-244`); shared
    * with `GhaPipeline.queryData` like [[commitFilter]].
    */
  def commentFilter(df: DataFrame, keyword: String): DataFrame = df
    .filter(lower(col("comment")).contains(keyword.toLowerCase))
    .filter(!col("repo").startsWith(keyword.trim + "/"))

  /** The folds of one ingested batch into the views, as named tasks — one
    * per view (`repo_counts`, `watcher_sketches`, `kw_commits`,
    * `kw_comments`), each writing only its own directory under `mvDir`.
    * `batch` is `Ingest.extractAll`'s curated frames for the tick, still
    * persisted while the tasks run: a fold reads the batch (and its own
    * view), never the curated store, so the tasks may run in any order or
    * side by side with the curated appends ([[GhaPipeline.ingestWith]]
    * runs them in the appends' fan-out).
    */
  def maintainTick(spark: SparkSession, batch: Map[String, DataFrame],
      mvDir: String, keyword: String = " dask"): Seq[(String, () => Unit)] =
    Seq(
      "repo_counts" -> (() => maintainCounts(spark, batch("watch"), mvDir)),
      "watcher_sketches" ->
        (() => maintainDistinctWatchers(spark, batch("watch"), mvDir)),
      // keyword survivors append (date-partitioned, same layout as curated)
      "kw_commits" -> { () =>
        TableStore.append(commitFilter(batch("commit"), keyword),
          s"$mvDir/kw_commits")
        ()
      },
      "kw_comments" -> { () =>
        TableStore.append(commentFilter(batch("comment"), keyword),
          s"$mvDir/kw_comments")
        ()
      })

  /** Counts merge: stored totals ∪ batch partials → sum by repo, into a
    * new generation (the read of g<N> feeds the write of g<N+1>).
    */
  private def maintainCounts(spark: SparkSession, batchWatch: DataFrame,
      mvDir: String): Unit = {
    val partial = batchWatch.groupBy("repo")
      .agg(count(lit(1)).cast(LongType).as("count"))
    val merged = readCounts(spark, mvDir) match {
      case Some(cur) => cur.unionByName(partial)
        .groupBy("repo").agg(sum("count").cast(LongType).as("count"))
      case None => partial
    }
    TableStore.overwriteVersioned(merged, s"$mvDir/repo_counts")
  }

  private def readCounts(spark: SparkSession, mvDir: String): Option[DataFrame] = {
    val dir = s"$mvDir/repo_counts"
    if (TableStore.dataFiles(spark, dir).nonEmpty)
      Some(TableStore.read(spark, dir, countsSchema))
    else None
  }

  /** `query_data` over the views: identical output to
    * [[GhaPipeline.queryData]] on the same history — the scans are just
    * proportional to keyword survivors instead of full history.
    */
  def queryData(spark: SparkSession, mvDir: String,
      keyword: String = " dask", minWatches: Long = 5)
      : (DataFrame, DataFrame) = {
    val popular = readCounts(spark, mvDir)
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], countsSchema))
      .filter(col("count") > minWatches)
    val commits = TableStore
      .read(spark, s"$mvDir/kw_commits", GhaSchemas.curated("commit"))
      .join(popular, Seq("repo"))
      .select("username", "repo", "message", "count")
      .orderBy(desc("count"), asc("username"), asc("message"))
    val comments = TableStore
      .read(spark, s"$mvDir/kw_comments", GhaSchemas.curated("comment"))
      .join(popular, Seq("repo"))
      .select("username", "repo", "comment", "count")
      .orderBy(desc("count"), asc("username"), asc("comment"))
    (commits, comments)
  }

  // ---- mergeable-sketch view: distinct watchers per repo -------------------
  // COUNT DISTINCT is not distributive — totals can't merge by addition, and
  // keeping the raw user sets would make the view as big as history. The
  // mergeable form is a sketch: each tick folds the batch's per-repo HLL
  // sketches into the stored ones (`hll_union_agg`), so the view holds one
  // fixed-size binary per repo and the per-tick cost stays O(batch +
  // repos). This is exactly how a 100 TB pipeline keeps "unique users per
  // repo, all time" fresh without ever rescanning history.

  private val sketchSchema = StructType(Seq(
    StructField("repo", org.apache.spark.sql.types.StringType),
    StructField("sk", org.apache.spark.sql.types.BinaryType)))

  /** Fold one batch's watch events into the distinct-watchers sketches. */
  def maintainDistinctWatchers(spark: SparkSession, batchWatch: DataFrame,
      mvDir: String): Unit = {
    val dir = s"$mvDir/watcher_sketches"
    val partial = batchWatch.groupBy("repo")
      .agg(hll_sketch_agg(col("username")).as("sk"))
    val merged =
      if (TableStore.dataFiles(spark, dir).isEmpty) partial
      else TableStore.read(spark, dir, sketchSchema).unionByName(partial)
        .groupBy("repo").agg(hll_union_agg(col("sk")).as("sk"))
    TableStore.overwriteVersioned(merged, dir)
  }

  /** (repo, estimated distinct watchers) from the maintained sketches. */
  def distinctWatchers(spark: SparkSession, mvDir: String): DataFrame =
    TableStore.read(spark, s"$mvDir/watcher_sketches", sketchSchema)
      .select(col("repo"),
        hll_sketch_estimate(col("sk")).as("distinct_watchers"))

  // ---- mergeable-sketch view: per-key quantiles ----------------------------
  // The KLL twin of the watcher view: PERCENTILES are no more distributive
  // than distinct counts, and the naive fix (store all values) grows with
  // history. Each tick folds the batch's per-key KLL sketches into the
  // stored ones (`KllMergeAgg` — merging preserves the rank-error bound,
  // the KLL paper's guarantee), so "p50/p99 per key, all time" stays one
  // ~KB binary per key, per-tick cost O(batch + keys), history never
  // rescanned.

  private def kllViewSchema = StructType(Seq(
    StructField("key", org.apache.spark.sql.types.StringType),
    StructField("sk", org.apache.spark.sql.types.BinaryType),
    StructField("batch_id", org.apache.spark.sql.types.LongType)))

  /** Fold one batch's (keyCol: string, valCol: double) rows into the
    * per-key quantile sketches under `mvDir/quantile_sketches`. Returns
    * true if the batch was folded, false if skipped as a replay.
    *
    * Replay safety (the part HLL/theta views get for free and KLL does
    * NOT): set-union is idempotent, but re-folding the same VALUES skews a
    * quantile sketch toward the replayed batch. Under foreachBatch's
    * at-least-once contract, `batchId` rides every view row and commits
    * ATOMICALLY with the sketches in the generation swap — a replayed
    * batch (id ≤ stored id) is recognized and skipped even if the crash
    * landed between data write and any separate marker (there is no
    * separate marker to tear).
    */
  def maintainQuantileSketches(spark: SparkSession, batch: DataFrame,
      mvDir: String, keyCol: String, valCol: String,
      batchId: Long = -1L): Boolean = {
    if (batch.isEmpty) return false // nothing to fold; never write an empty generation
    val dir = s"$mvDir/quantile_sketches"
    // Optimistic transaction (round 8): two maintainers racing the same
    // view (a live stream + a batch backfill) would otherwise both derive
    // from the same base generation and the second commit would silently
    // DROP the first's fold. The CAS re-runs this whole read-fold body
    // against the winner's state; the replay check re-decides inside the
    // loop for the same reason. CONTRACT: `batchId >= 0` implies a single
    // sequential stream (foreachBatch — the watermark is one max id, so
    // batch N committed means every id <= N is folded); a CONCURRENT
    // folder must use batch mode (batchId = -1), which skips the replay
    // check and carries the stream's watermark forward untouched.
    TableStore.transactVersionedOpt(spark, dir) {
      val existing =
        if (TableStore.dataFiles(spark, dir).isEmpty) None
        else Some(TableStore.read(spark, dir, kllViewSchema))
      // Null-safe: a schema-only generation (e.g. written by a pre-guard
      // version on an empty first micro-batch) makes max(batch_id) NULL;
      // getLong(0) on it would NPE and crash-loop the stream forever.
      val storedMax = existing.flatMap { e =>
        val r = e.agg(max("batch_id")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
      if (batchId >= 0 && storedMax.exists(_ >= batchId))
        None // at-least-once replay: state already holds this batch
      else {
        // a batch-mode fold (batchId = -1) must CARRY the stored watermark
        // forward, not stamp -1 over it — that would reset replay
        // protection for a stream resuming afterwards
        val stampId = math.max(batchId, storedMax.getOrElse(-1L))
        val partial = batch
          .select(col(keyCol).cast("string").as("key"),
            col(valCol).cast("double").as("v"))
          .groupBy("key")
          .agg(graft.functions.SketchAggs.kllAgg(col("v")).as("sk"))
          .withColumn("batch_id", lit(stampId))
        Some(existing match {
          case None => partial
          case Some(e) => e.unionByName(partial)
            .groupBy("key")
            .agg(graft.functions.SketchAggs.kllMergeAgg(col("sk")).as("sk"))
            .withColumn("batch_id", lit(stampId))
        })
      }
    }
  }

  /** (key, quantiles array at `probs`) from the maintained sketches. */
  def quantileView(spark: SparkSession, mvDir: String,
      probs: Seq[Double]): DataFrame =
    TableStore.read(spark, s"$mvDir/quantile_sketches", kllViewSchema)
      .select(col("key"),
        graft.functions.SketchAggs.kllQuantiles(col("sk"), probs).as("qs"))

  // ---- mergeable-sketch view: per-key heavy hitters -------------------------
  // The frequent-items twin of the quantile view: "top items per key, all
  // time" from one bounded sketch per key (DataSketches ItemsSketch —
  // retains candidate ITEMS, which CMS cannot, with the deterministic
  // lb ≤ true ≤ ub guarantee). Same replay hazard as KLL — re-folding a
  // batch INFLATES counts — so the same batch_id-in-the-generation-swap
  // protocol applies verbatim.

  private def freqViewSchema = StructType(Seq(
    StructField("key", org.apache.spark.sql.types.StringType),
    StructField("sk", org.apache.spark.sql.types.BinaryType),
    StructField("batch_id", org.apache.spark.sql.types.LongType)))

  /** Fold one batch's (keyCol: string, itemCol: string) rows into the
    * per-key frequent-items sketches under `mvDir/freq_sketches`. Returns
    * true if folded, false if skipped as an at-least-once replay.
    */
  def maintainFreqSketches(spark: SparkSession, batch: DataFrame,
      mvDir: String, keyCol: String, itemCol: String,
      batchId: Long = -1L): Boolean = {
    if (batch.isEmpty) return false // nothing to fold; never write an empty generation
    val dir = s"$mvDir/freq_sketches"
    // optimistic transaction — see maintainQuantileSketches
    TableStore.transactVersionedOpt(spark, dir) {
      val existing =
        if (TableStore.dataFiles(spark, dir).isEmpty) None
        else Some(TableStore.read(spark, dir, freqViewSchema))
      // Null-safe: a schema-only generation (e.g. written by a pre-guard
      // version on an empty first micro-batch) makes max(batch_id) NULL;
      // getLong(0) on it would NPE and crash-loop the stream forever.
      val storedMax = existing.flatMap { e =>
        val r = e.agg(max("batch_id")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
      if (batchId >= 0 && storedMax.exists(_ >= batchId))
        None // at-least-once replay: state already holds this batch
      else {
        val stampId = math.max(batchId, storedMax.getOrElse(-1L))
        val partial = batch
          .select(col(keyCol).cast("string").as("key"),
            col(itemCol).cast("string").as("item"))
          .groupBy("key")
          .agg(graft.functions.SketchAggs.freqAgg(col("item")).as("sk"))
          .withColumn("batch_id", lit(stampId))
        Some(existing match {
          case None => partial
          case Some(e) => e.unionByName(partial)
            .groupBy("key")
            .agg(graft.functions.SketchAggs.freqMergeAgg(col("sk")).as("sk"))
            .withColumn("batch_id", lit(stampId))
        })
      }
    }
  }

  /** (key, top items array<struct<item, est, lb, ub>>) from the maintained
    * sketches — NO_FALSE_NEGATIVES, so every true heavy hitter appears.
    */
  def freqView(spark: SparkSession, mvDir: String): DataFrame =
    TableStore.read(spark, s"$mvDir/freq_sketches", freqViewSchema)
      .select(col("key"),
        graft.functions.SketchAggs.freqTopItems(col("sk")).as("top"))

  // ---- additive view: equi-width histogram + drift (PSI) --------------------
  // The streaming face of q_drift_psi: each tick ADDS its bucket counts
  // into a stored histogram (O(nBuckets) state), and the live histogram
  // is compared against a frozen REFERENCE (the accepted snapshot) with
  // the same smoothed-PSI closed form — the continuous ingest-drift
  // monitor. Addition is NOT idempotent (a replayed batch double-counts),
  // so the same batchId-in-the-generation-swap protocol as the KLL/freq
  // views applies.

  private def histViewSchema = StructType(Seq(
    StructField("bucket", org.apache.spark.sql.types.IntegerType),
    StructField("n", org.apache.spark.sql.types.LongType),
    StructField("batch_id", org.apache.spark.sql.types.LongType)))

  /** Equi-width bucket of `v` over [lo, lo + nBuckets·width): values
    * clamp into the edge buckets, so the histogram is total.
    */
  private def bucketOf(v: Column, lo: Double, width: Double,
      nBuckets: Int): Column =
    greatest(least(floor((v - lo) / width), lit((nBuckets - 1).toDouble)),
      lit(0.0)).cast("int")

  /** Fold one batch's `valCol` values into the stored histogram under
    * `mvDir/histogram`. Returns true if folded, false on replay.
    */
  def maintainHistogram(spark: SparkSession, batch: DataFrame,
      mvDir: String, valCol: String, lo: Double, width: Double,
      nBuckets: Int, batchId: Long = -1L): Boolean = {
    require(nBuckets >= 2 && width > 0, s"bad histogram shape: $nBuckets x $width")
    if (batch.isEmpty) return false // nothing to fold; never write an empty generation
    val dir = s"$mvDir/histogram"
    // optimistic transaction — see maintainQuantileSketches
    TableStore.transactVersionedOpt(spark, dir) {
      val existing =
        if (TableStore.dataFiles(spark, dir).isEmpty) None
        else Some(TableStore.read(spark, dir, histViewSchema))
      // Null-safe: a schema-only generation (e.g. written by a pre-guard
      // version on an empty first micro-batch) makes max(batch_id) NULL;
      // getLong(0) on it would NPE and crash-loop the stream forever.
      val storedMax = existing.flatMap { e =>
        val r = e.agg(max("batch_id")).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
      if (batchId >= 0 && storedMax.exists(_ >= batchId)) None
      else {
        val stampId = math.max(batchId, storedMax.getOrElse(-1L))
        val partial = batch
          .select(bucketOf(col(valCol).cast("double"), lo, width, nBuckets)
            .as("bucket"))
          .groupBy("bucket").agg(count(lit(1)).as("n"))
        val merged = existing match {
          case None => partial
          case Some(e) => e.select(col("bucket"), col("n")).unionByName(partial)
            .groupBy("bucket").agg(sum("n").as("n"))
        }
        Some(merged.withColumn("batch_id", lit(stampId)))
      }
    }
  }

  /** Smoothed PSI between the maintained histogram and a reference
    * histogram dir (same bucketing): one row,
    * (psi, n_live, n_ref) — the q_drift_psi closed form, +0.5 Laplace
    * per bucket over `nBuckets`.
    */
  def histogramDrift(spark: SparkSession, mvDir: String, refDir: String,
      nBuckets: Int): DataFrame = {
    val live = TableStore.read(spark, s"$mvDir/histogram", histViewSchema)
      .select(col("bucket"), col("n").as("na"))
    val ref = TableStore.read(spark, s"$refDir/histogram", histViewSchema)
      .select(col("bucket"), col("n").as("nb"))
    val joined = live.join(ref, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("na"), lit(0L)).as("na"),
        coalesce(col("nb"), lit(0L)).as("nb"))
    val t = joined.agg(sum("na").as("ta"), sum("nb").as("tb"))
    val p = (col("na") + 0.5) / (col("ta") + 0.5 * nBuckets)
    val q = (col("nb") + 0.5) / (col("tb") + 0.5 * nBuckets)
    joined.crossJoin(broadcast(t))
      .withColumn("contrib", (p - q) * log(p / q))
      .agg(round(sum("contrib"), 6).as("psi"),
        sum("na").as("n_live"), sum("nb").as("n_ref"))
  }

  /** Recovery/bootstrap: recompute every view from the curated store (the
    * one full scan, paid only after a crash rollback or when adopting the
    * views over an existing store).
    */
  def rebuild(spark: SparkSession, storeDir: String, mvDir: String,
      keyword: String = " dask"): Unit = {
    import GhaSchemas.curated
    // a first-tick crash can leave some curated tables never created; the
    // views still need a consistent (empty) rebuild — same guard
    // recoverInflight applies per table
    def readOrEmpty(name: String): DataFrame = {
      val dir = s"$storeDir/$name"
      try TableStore.read(spark, dir, curated(name))
      catch { case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          curated(name))
      }
    }
    val watch = readOrEmpty("watch")
    TableStore.overwriteVersioned(
      watch.groupBy("repo").agg(count(lit(1)).cast(LongType).as("count")),
      s"$mvDir/repo_counts")
    TableStore.overwriteVersioned(
      watch.groupBy("repo").agg(hll_sketch_agg(col("username")).as("sk")),
      s"$mvDir/watcher_sketches")
    TableStore.overwriteVersioned(commitFilter(readOrEmpty("commit"), keyword),
      s"$mvDir/kw_commits", partitionCols = Seq("date"))
    TableStore.overwriteVersioned(commentFilter(readOrEmpty("comment"), keyword),
      s"$mvDir/kw_comments", partitionCols = Seq("date"))
  }
}
