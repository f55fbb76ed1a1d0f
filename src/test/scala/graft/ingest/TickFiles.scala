package graft.ingest

import org.apache.spark.sql.SparkSession
import graft.store.TableStore

/** What a tick left on disk in one date partition of a curated table. */
object TickFiles {
  private val JobId = "part-\\d+-([0-9a-f-]{36}).*\\.parquet".r

  /** The partition's parquet files, grouped by the write job that made
    * them (Spark names each file `part-<task>-<job uuid>…`): one append
    * or one compaction is one file set. Empty when the partition is absent.
    */
  def fileSets(spark: SparkSession, tableDir: String, date: String)
      : Map[String, Int] = {
    val part = new org.apache.hadoop.fs.Path(
      s"${TableStore.resolveDataDir(spark, tableDir)}/date=$date")
    val f = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!f.exists(part)) Map.empty
    else f.listStatus(part).toSeq.map(_.getPath.getName)
      .collect { case JobId(job) => job }
      .groupMapReduce(identity)(_ => 1)(_ + _)
  }
}
