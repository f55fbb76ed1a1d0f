package graft.functions

import org.apache.spark.sql.SparkSession

/** Registers the graft SQL function family as temp functions on a live
  * session — the same [[GraftFunctionRegistry.builders]] table that
  * [[GraftExtensions]] injects when a session is built, so a suite can run
  * `graft_*` SQL on the shared session without rebuilding it.
  */
object SqlFunctions {
  def register(spark: SparkSession): Unit =
    GraftFunctionRegistry.builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, b, "scala_udf")
    }
}
