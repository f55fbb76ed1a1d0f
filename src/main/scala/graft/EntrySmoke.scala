package graft
object EntrySmoke {
  def main(a: Array[String]): Unit = {
    val spark = LocalSession()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.entry(spark)
    println("ENTRY_ROWS=" + df.count())
    df.show(5, false)
    spark.stop()
  }
}
