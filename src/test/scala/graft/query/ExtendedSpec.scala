package graft.query

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class ExtendedSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("asofJoin picks the latest right row at-or-before each left ts") {
    val left = Seq(
      (1L, 10L, ts("2024-01-01 10:00:00")),
      (2L, 10L, ts("2024-01-01 12:00:00")),
      (3L, 20L, ts("2024-01-01 09:00:00")) // no prior right row -> dropped
    ).toDF("event_id", "user_id", "ts")
    val right = Seq(
      (10L, ts("2024-01-01 09:00:00")),
      (10L, ts("2024-01-01 11:00:00")),
      (20L, ts("2024-01-01 23:00:00"))
    ).toDF("user_id", "ts").withColumn("rts", col("ts"))

    val out = Extended.asofJoin(left, right, "user_id", "ts", "rts")
      .select($"event_id", $"_asof".cast("string"))
      .as[(Long, String)].collect().toMap
    assert(out === Map(
      1L -> "2024-01-01 09:00:00",   // latest right <= 10:00
      2L -> "2024-01-01 11:00:00"))  // advances with later right rows
  }

  test("asofJoin tie at equal ts is inclusive (left.ts >= right.ts)") {
    val left = Seq((1L, 5L, ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((5L, ts("2024-01-01 10:00:00")))
      .toDF("user_id", "ts").withColumn("rts", col("ts"))
    assert(Extended.asofJoin(left, right, "user_id", "ts", "rts").count() === 1)
  }

  test("asofJoin: a most-recent right row with a NULL value is the match, not skipped") {
    // true ASOF JOIN semantics: the 11:00 row matches even though its
    // value is null — skipping it (bare-column ignoreNulls) would wrongly
    // reach back to 09:00's value
    val left = Seq((1L, 5L, ts("2024-01-01 12:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq(
      (5L, ts("2024-01-01 09:00:00"), "old"),
      (5L, ts("2024-01-01 11:00:00"), null)
    ).toDF("user_id", "ts", "v")
    val out = Extended.asofJoin(left, right, "user_id", "ts", "v")
      .select($"event_id", $"_asof").as[(Long, Option[String])].collect()
    assert(out.toSeq === Seq((1L, None)))
  }

  test("asofJoin is one shuffle: no join operator in the plan") {
    val left = Seq((1L, 5L, ts("2024-01-01 10:00:00")))
      .toDF("event_id", "user_id", "ts")
    val right = Seq((5L, ts("2024-01-01 09:00:00")))
      .toDF("user_id", "ts").withColumn("rts", col("ts"))
    val plan = Extended.asofJoin(left, right, "user_id", "ts", "rts")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of should be window-based, got:\n$plan")
  }
}

/** Physical-plan contracts: the scale properties the DataFrame code pins
  * (broadcast for bounded dims, shuffle join for big x big, true top-k,
  * parquet predicate/projection pushdown) must be visible in the plan —
  * not hoped for. Run over real sf0.001 parquet so scans are real.
  */
class PlanSpec extends AnyFunSuite with SparkFixture {

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf("sf0.001"))
      .queryExecution.executedPlan.toString

  test("q_join_broadcast plans a BroadcastHashJoin") {
    assert(plan("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_sortmerge plans a SortMergeJoin (big x big must shuffle)") {
    assert(plan("q_join_sortmerge").contains("SortMergeJoin"))
  }

  test("q_star_join: one shuffle join + broadcast dims") {
    val p = plan("q_star_join")
    assert(p.contains("BroadcastHashJoin"))
    val shuffleJoins = "SortMergeJoin|ShuffledHashJoin".r
      .findAllIn(p).size
    assert(shuffleJoins <= 1, s"star join should shuffle once:\n$p")
  }

  test("q_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan("q_topk")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_filter_eq pushes the predicate into the parquet scan") {
    val p = plan("q_filter_eq")
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"),
      s"predicate not pushed:\n$p")
  }

  test("q_groupby_count prunes the scan to the grouped column") {
    val p = plan("q_groupby_count")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("event_type") && !read.contains("props"),
      s"column pruning failed: $read")
  }

  test("q_join_range broadcasts the band table (fact side never shuffles)") {
    val p = plan("q_join_range")
    assert(p.contains("BroadcastNestedLoopJoin"), s"band join:\n$p")
  }

  test("flagship pipeline: aggregation is partial before the shuffle") {
    val p = plan("q_pipeline_parts")
    assert(p.contains("HashAggregate"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("stratifiedTake shuffles exactly once, on the stratum key") {
    val spark2 = spark
    import spark2.implicits._
    val df = (1L to 100L).map(i => (i, s"s${i % 4}")).toDF("id", "stratum")
    val q = graft.llm.Sampling.stratifiedTake(df, "stratum", col("id"), 5)
    val p = q.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).size === 1, s"one exchange expected:\n$p")
    assert(p.contains("hashpartitioning(stratum"), s"keyed on stratum:\n$p")
    // and it must be the bounded heap plan, not a window: no per-partition
    // sort of the input, partial pass before the exchange
    assert(p.contains("GraftTopKPerKeyFinal") &&
      p.contains("GraftTopKPerKeyPartial"), s"heap plan expected:\n$p")
    assert(!p.contains("Window") && !p.contains("Sort "),
      s"no sort/window should survive:\n$p")
  }

  test("date-partitioned store prunes partitions on a date predicate") {
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val dir = tmpDir("prune")
    val df = Seq(
      ("a", java.sql.Date.valueOf("2024-02-28")),
      ("b", java.sql.Date.valueOf("2024-02-29"))).toDF("v", "date")
    graft.store.TableStore.append(df, dir)
    val q = spark.read.parquet(dir).filter($"date" === "2024-02-29")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") &&
      "PartitionFilters: \\[[^\\]]*isnotnull\\(date".r.findFirstIn(p).isDefined,
      s"no partition pruning:\n$p")
    assert(q.count() === 1)
  }
}
