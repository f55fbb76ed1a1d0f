package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Inspection of a versioned table's retained generations: which `g<N>`
  * directories are committed, and the data of one of them. The store keeps
  * the current generation and the one it superseded; the specs read the
  * old one to check retention, vacuum and rollback.
  */
object Generations {

  /** Committed generations of the table, oldest first. */
  def list(spark: SparkSession, dir: String): Seq[Int] = {
    val f = TableStore.fs(spark, dir)
    val root = new Path(dir)
    if (!f.exists(root)) Seq.empty
    else f.listStatus(root).iterator
      .filter(_.isDirectory)
      .flatMap(s => s.getPath.getName match {
        case TableStore.GenName(n) if f.exists(new Path(s.getPath, "_SUCCESS")) =>
          Some(n.toInt)
        case _ => None
      })
      .toSeq.sorted
  }

  /** One retained generation, read with the table's declared schema when
    * it has one; fails naming the retained set when it was vacuumed.
    */
  def read(spark: SparkSession, dir: String, generation: Int): DataFrame = {
    val gens = list(spark, dir)
    require(gens.contains(generation),
      s"generation $generation not present for $dir (retained: " +
        s"${gens.mkString(", ")}) — older generations are vacuumed")
    TableStore.declaredSchema(spark, dir)
      .fold(spark.read)(s => spark.read.schema(s))
      .parquet(s"$dir/g$generation")
  }
}
