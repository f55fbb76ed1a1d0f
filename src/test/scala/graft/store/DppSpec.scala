package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.{PlanAsserts, SparkFixture}

/** R2+: dynamic partition pruning over the table store — the fact
  * partitions to read are only knowable at runtime from the dimension's
  * surviving join keys. The assertions are structural AND behavioral: the
  * fact scan must carry a `dynamicpruning` partition filter, and the files
  * it actually reads must be bounded by the dim's selectivity, not the
  * table's partition count.
  */
class DppSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("a selective dim filter prunes fact partitions at runtime") {
    val dir = tmpDir("dpp") + "/t"
    // 20 date partitions x 50 rows
    val fact = (0 until 1000).map { i =>
      (i.toLong, s"u${i % 7}", java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 3, 1).plusDays(i % 20)))
    }.toDF("id", "user", "date")
    TableStore.append(fact.repartition(4), dir)

    // the dim must be a real datasource: a LocalRelation dim gets its
    // filter constant-folded away (ConvertToLocalRelation) and DPP sees
    // no selective predicate to subscribe to
    val dimPath = tmpDir("dpp_dim")
    (0 until 20).map(dd => java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 3, 1).plusDays(dd)))
      .toDF("date").write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath)
      .filter(dayofmonth($"date") <= 3) // 3 of 20 survive

    val joined = TableStore.read(spark, dir).join(dim, "date")
      .agg(count(lit(1)).as("n"), sum("id").as("id_sum"))
    // collect(), not head(): head() executes a separate limited
    // QueryExecution, leaving this df's executedPlan (and its metrics)
    // untouched
    val row = joined.collect().head
    assert(row.getLong(0) === 150) // 3 dates x 50 rows

    val plan = PlanAsserts.stripAQE(joined.queryExecution.executedPlan)
    val scans = PlanAsserts.deepCollect(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths
        .exists(_.toString.contains("dpp")) => s
    }
    assert(scans.nonEmpty, "fact file scan not found")
    val scan = scans.head
    assert(scan.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning")),
      s"no dynamic pruning filter in: ${scan.partitionFilters}")
    // behavioral: the executed scan touched only the 3 surviving
    // partitions' files, not all 20 (metrics are populated by the run
    // above; do NOT touch inputRDDs here — that re-evaluates the pruning
    // subquery outside execution and throws "has not finished")
    assert(scan.metrics.nonEmpty, s"scan carries no metrics")
    val readFiles = scan.metrics
      .collectFirst { case (k, m) if k.toLowerCase.contains("files")
        && !k.toLowerCase.contains("size") => m.value }
      .getOrElse(-1L)
    assert(readFiles > 0 && readFiles <= 3 * 4,
      s"expected <=12 files (3 partitions x <=4 writers), read $readFiles; " +
        s"metrics=${scan.metrics.keys.mkString(",")}")
  }
}
