package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.store.TableStore

/** The `query_data` analytics (`preprocess.py:209-244`) recomputed over the
  * curated store's full history — the reference the served results must
  * equal. The tick serves [[IncrementalViews.queryData]] instead, from the
  * views it folds; the specs compare the two on the same store.
  */
object Recompute {

  /** (commits, comments) result frames for `keyword` (the reference
    * hardcodes " dask"); popular = repos with more than `minWatches`
    * watchers.
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
    // this recompute and the view folds share (they commute with the inner
    // popularity join).
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
}
