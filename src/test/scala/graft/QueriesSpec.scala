package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Registry-level invariants: every declared query runs on sf0.001 and
  * produces rows; names stay aligned with the oracle map; entry smoke.
  * (Value-level correctness is the driver's DuckDB pass — locally run
  * `tools/check.py`.)
  *
  * Each key's test also lints the plan it builds, so no scale-killer
  * plans unnoticed:
  *
  *  1. no `CartesianProductExec` anywhere — an O(n·m) join is never the
  *     intended plan in this engine;
  *  2. a `BroadcastNestedLoopJoin` only with a provably-1-row build side
  *     (a global aggregate or a literal relation) — the broadcast-scalar
  *     crossJoin pattern several keys use to attach a corpus-wide cutoff;
  *     anything else is a disguised cartesian, unless the key is in
  *     [[boundedBnlj]];
  *  3. no unpartitioned `Window` / `WindowGroupLimit` — a global window
  *     funnels the stage through ONE task (the round-6 skyline finding).
  *
  * Lints run on the pre-AQE physical plan (`sparkPlan`): these are
  * NEGATIVE properties — AQE can upgrade a join, but it never introduces
  * a cartesian or removes a window's partitioning.
  */
class QueriesSpec extends AnyFunSuite with SparkFixture {

  /** True when a plan subtree can emit at most one row: a global
    * aggregate (no grouping keys) or a one-row local/range relation,
    * looked up through unary wrappers.
    */
  private def atMostOneRow(p: SparkPlan): Boolean = p match {
    case a: HashAggregateExec => a.groupingExpressions.isEmpty
    case a: ObjectHashAggregateExec => a.groupingExpressions.isEmpty
    case a: SortAggregateExec => a.groupingExpressions.isEmpty
    case l: LocalTableScanExec => l.rows.lengthCompare(1) <= 0
    case u if u.children.length == 1 => atMostOneRow(u.children.head)
    case _ => false
  }

  /** Keys whose BroadcastNestedLoopJoin build side is bounded by
    * CONSTRUCTION rather than provably 1-row — each carries its bound.
    * The last test keeps this list honest: a key listed here must
    * actually plan a BNLJ, so stale entries fail too.
    */
  private val boundedBnlj: Map[String, String] = Map(
    "q_cosine_topk" -> "brute-force top-k baseline: 10 fixed query ids x corpus",
    "q_ann_ivf_append" -> "post-append probe set: 10 fixed query ids",
    "q_knn_graph" -> "in-query exact recall audit: 50 fixed query ids",
    "q_ngram_jaccard" -> "exact-Jaccard oracle pairs over a <=20-doc sample",
    "q_join_range" -> "range join against a 4-row literal band table",
    "q_negative_sample" ->
      "L33 sampler: 8 fixed anchor ids x corpus, cosine-pruned then heap-bounded",
    "q_hybrid_rrf" ->
      "L35 cosine arm: 5 fixed query vectors x corpus, heap-bounded (TopK)")

  // keys whose plan was linted in this run, and those among them that
  // planned a bounded BNLJ — a name filter may run only some keys
  private val linted = scala.collection.mutable.Set.empty[String]
  private val sawBnlj = scala.collection.mutable.Set.empty[String]

  /** The lint findings for one key's plan; empty when it is clean. */
  private def planLint(name: String, plan: SparkPlan): Seq[String] = {
    val cartesians = PlanAsserts.deepCollect(plan) {
      case _: CartesianProductExec => s"$name: CartesianProduct"
    }
    val bnljs = PlanAsserts.deepCollect(plan) {
      case j: BroadcastNestedLoopJoinExec => j
    }.flatMap { j =>
      val build = j.buildSide match {
        case BuildRight => j.right
        case BuildLeft => j.left
      }
      if (atMostOneRow(build)) None
      else if (boundedBnlj.contains(name)) { sawBnlj += name; None }
      else Some(s"$name: BroadcastNestedLoopJoin with a multi-row " +
        s"build side:\n${build.treeString.linesIterator.take(6).mkString("\n")}")
    }
    val windows = PlanAsserts.deepCollect(plan) {
      case w: WindowExec if w.partitionSpec.isEmpty =>
        s"$name: unpartitioned Window"
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty =>
        s"$name: unpartitioned WindowGroupLimit"
    }
    cartesians ++ bnljs ++ windows
  }

  test("every oracle key is a declared query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("every declared query has an oracle (no silent rows-only downgrade)") {
    // the driver records a weaker rows-only check for keys missing from
    // oracleSql — this engine's contract is the FULL hash compare for
    // every key, so a missing oracle is a regression, not an option
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"keys without an oracle: $missing")
  }

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a storage key reads what its directory holds now, not an earlier build") {
    // q_csv_roundtrip writes the orders it reads to a CSV store of its own;
    // after the directory's orders change, the next call must see them
    val key = SparkEntry.queries("q_csv_roundtrip")
    def copySf(): String = {
      val to = tmpDir("sf_copy")
      val files = Files.list(Paths.get(sf("sf0.001")))
      try files.iterator.asScala.foreach(f =>
        Files.copy(f, Paths.get(to).resolve(f.getFileName)))
      finally files.close()
      to
    }
    def keepEvenOrders(dir: String): Unit = {
      Files.delete(Paths.get(dir, "orders.parquet"))
      spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
        .filter("o_orderkey % 2 = 0")
        .write.parquet(s"$dir/orders.parquet")
    }
    val dir = copySf()
    val before = key(spark, dir).collect().toSeq
    keepEvenOrders(dir)
    val after = key(spark, dir).collect().toSeq
    val fresh = copySf()
    keepEvenOrders(fresh)
    val expected = key(spark, fresh).collect().toSeq
    assert(expected != before, "the filter must change the checksum")
    assert(after == expected)
  }

  for (q <- SparkEntry.registry) {
    test(s"${q.name} runs and returns rows on sf0.001") {
      val df = q.fn(spark, sf("sf0.001"))
      val bad = planLint(q.name, df.queryExecution.sparkPlan)
      linted += q.name
      assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
      assert(df.count() > 0, s"${q.name} returned 0 rows")
    }
  }

  test("every whitelisted bounded-BNLJ key still plans one") {
    // a rewrite that removes a key's BNLJ should also remove its entry
    assert(boundedBnlj.keySet.subsetOf(SparkEntry.queries.keySet))
    val stale = (boundedBnlj.keySet & linted) -- sawBnlj
    assert(stale.isEmpty, s"whitelisted keys no longer plan a BNLJ: $stale")
  }
}
