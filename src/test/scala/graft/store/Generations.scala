package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Inspection of a log table's retained versions: which versions a reader
  * can still travel to, and the data of one of them. The specs read old
  * versions to check retention, vacuum and rollback.
  */
object Generations {

  /** Retained versions of the table, oldest first (empty before the first
    * commit).
    */
  def list(spark: SparkSession, dir: String): Seq[Long] = {
    val latest = TableStore.snapshot(spark, dir).version
    if (latest < 0) Nil else math.max(0L, latest - TableStore.Retained) to latest
  }

  /** One retained version; fails naming the retained window when it was
    * vacuumed.
    */
  def read(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val s = TableStore.snapshot(spark, dir, Some(version))
    TableStore.frame(spark, dir, s, s.files.values)
  }
}
