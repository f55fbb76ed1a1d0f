package graft.ingest

import org.apache.spark.sql.SparkSession
import graft.store.TableStore

/** What a tick left on disk in one date partition of a curated table. */
object TickFiles {
  private val JobId = "part-\\d+-([0-9a-f-]{36}).*\\.parquet".r

  /** The partition's parquet files in the table's current version,
    * grouped by the write job that made them (Spark names each file `part-<task>-<job uuid>…`): one append
    * or one compaction is one file set. Empty when the partition is absent.
    */
  def fileSets(spark: SparkSession, tableDir: String, date: String)
      : Map[String, Int] =
    TableStore.dataFiles(spark, tableDir).filter(_.contains(s"/date=$date/"))
      .map(new org.apache.hadoop.fs.Path(_).getName)
      .collect { case JobId(job) => job }
      .groupMapReduce(identity)(_ => 1)(_ + _)
}
