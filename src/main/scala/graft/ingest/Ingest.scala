package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** NDJSON scan layer (S1/S2/S3 in SURVEY.md §2.1).
  *
  * The reference fans out one Dask task per hourly gzip file
  * (`/root/reference/preprocess.py:260`) because gzip is unsplittable.
  * Spark's text source has the same behavior natively: `.gz` paths become
  * one task per file, uncompressed files are block-split (the notebook's
  * `blocksize="50 MiB"`, `gha.ipynb:145`, is
  * `spark.sql.files.maxPartitionBytes`). At 100 TB the scan parallelism is
  * therefore #files for gzip.
  */
object Ingest {

  /** Read NDJSON lines (gzip or plain, S1/S2) as a one-column `value` frame.
    * Lines are NOT parsed here — parse (`Extract.parseRaw`) composes on top
    * so corrupt-line accounting stays possible.
    */
  def readLines(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.text(paths: _*)

  /** Parse + extract all six curated frames in one shared pass.
    * The raw parsed frame is persisted so the (expensive) JSON parse runs
    * once for all six projections — the Spark analog of the reference's
    * shared-prefix `dask.compute` (`gha.ipynb:337-341`). Caller must
    * `unpersist()` via the returned handle when done.
    */
  def extractAll(spark: SparkSession, paths: Seq[String])
      : (DataFrame, Map[String, DataFrame]) = {
    val raw = Extract.parseRaw(readLines(spark, paths))
      .persist(StorageLevel.MEMORY_AND_DISK)
    (raw, Extract.all(raw))
  }
}
