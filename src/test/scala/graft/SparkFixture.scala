package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per suite (SURVEY.md §5.2). */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session
  def sf(name: String) = s"/root/testdata/$name"

  /** A new directory under `java.io.tmpdir` (which the build points at
    * `target/tmp`), removed on JVM exit.
    */
  def tmpDir(prefix: String): String =
    graft.query.Pipelines.demoRoot(prefix).toString
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = LocalSession("local[4]")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
