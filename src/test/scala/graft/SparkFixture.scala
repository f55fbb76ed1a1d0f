package graft

import org.apache.spark.sql.SparkSession

/** One shared local session per suite (SURVEY.md §5.2). */
trait SparkFixture {
  lazy val spark: SparkSession = SparkFixture.session
  def sf(name: String) = s"/root/testdata/$name"
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = LocalSession("local[4]")
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
