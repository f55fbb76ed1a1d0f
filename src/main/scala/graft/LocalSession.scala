package graft

import org.apache.spark.sql.SparkSession

/** The one session every entry point builds: the engine's settings in one
  * place, so Bench, Verify, Probe, Serve and the test fixture run the
  * same configuration.
  *
  *  - master `local[<cpus>]` by default, where cpus is `$SPARK_GRAFT_CPUS`
  *    or else the available processors;
  *  - shuffle partitions = the master's thread count for `local[N]`, else
  *    cpus (a cluster master such as Serve's `$SPARK_MASTER`);
  *  - UTC session time zone (`query.Tables` normalizes NTZ columns under
  *    that assumption), AQE on, `nanosAsLong` (the testdata's nanosecond
  *    timestamps), UI off unless asked for.
  */
object LocalSession {

  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  private val LocalN = """local\[(\d+)\]""".r

  def apply(master: String = s"local[$cpus]",
      ui: Boolean = false): SparkSession = {
    val partitions = master match {
      case LocalN(n) => n
      case _ => cpus
    }
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", ui.toString)
      .getOrCreate()
  }
}
