package graft.query

import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{PlanAsserts, SparkFixture}

/** S11: bucketed layout → exchange-free fact-fact join. */
class BucketedSpec extends AnyFunSuite with SparkFixture {

  private lazy val dir = sf("sf0.001")

  test("bucketed join+aggregate runs with ZERO exchanges (no shuffle, " +
    "no broadcast) and stays a sort-merge join") {
    val df = graft.SparkEntry.queries("q_bucket_join")(spark, dir)
    df.collect()
    val plan = PlanAsserts.stripAQE(df.queryExecution.executedPlan)
    val shuffles = PlanAsserts.shuffles(plan)
    assert(shuffles.isEmpty,
      s"expected no exchanges over the bucketed layout, got:\n$plan")
    val broadcasts = PlanAsserts.deepCollect(plan) {
      case b: BroadcastExchangeLike => b
    }
    assert(broadcasts.isEmpty, "co-location must not degrade to broadcast")
    val smj = PlanAsserts.deepCollect(plan) { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"expected a sort-merge join, got:\n$plan")
  }

  test("bucketed join result equals the plain unbucketed join") {
    val bucketed = graft.SparkEntry.queries("q_bucket_join")(spark, dir)
      .collect().toSeq
    val plain = Tables(spark, dir, "lineitem")
      .join(Tables(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderpriority")
      .agg(Tables.cnt.as("n_items"),
        Tables.sumMoney4(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy(desc("revenue"), asc("o_orderkey"))
      .limit(10).collect().toSeq
    assert(bucketed == plain)
  }
}
