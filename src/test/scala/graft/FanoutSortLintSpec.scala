package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Standing gate for the round-8 ×100 cliff: a bucketed/LSH pipeline that
  * generates a large (id, id) candidate stream and re-attaches payloads
  * must NEVER sort that stream — at 200k vectors the knnGraph re-attach
  * planned as a sort-merge join spilled ~170 GB sorting 312M widened
  * candidate rows and filled the disk. The fix (hint the re-attach joins
  * SHUFFLE_HASH with the bounded payload table as build side) was applied
  * per site; this spec promotes it to an inventory-wide invariant so a
  * future edit that drops a hint fails the suite instead of the next
  * ×100 probe.
  *
  * The lint: in every candidate-fanout pipeline's physical plan, no
  * `SortExec` may have a JOIN anywhere beneath it — a sort whose input is
  * a join output is sorting a fanout stream. Sorts of pre-join inputs
  * (the band tables under the bucket self-join — corpus×nBands rows of a
  * few longs) are legitimate and keep planning as the spill-graceful SMJ.
  * Each pipeline must also still plan ≥2 `ShuffledHashJoin`s (the two
  * hinted re-attach sides), so the whitelist of shapes can't rot into
  * vacuous passes if a pipeline is rewritten without joins.
  *
  * Pipelines are linted through their LAZY plan builders
  * ([[graft.llm.References.minhashPairsPlan]] /
  * [[graft.llm.VectorOps.cosinePairsPlan]]) because the public entry
  * points materialize through `localCheckpoint`, which truncates the
  * plan the registry-level plan lint in `QueriesSpec` can see.
  */
class FanoutSortLintSpec extends AnyFunSuite with SparkFixture {

  private val sfDir = "/root/testdata/sf0.001"

  private def isJoin(p: SparkPlan): Boolean = p match {
    case _: SortMergeJoinExec | _: ShuffledHashJoinExec |
        _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec |
        _: CartesianProductExec => true
    case _ => false
  }

  private def joinsBelow(p: SparkPlan): Int =
    PlanAsserts.deepCollect(p) { case j if isJoin(j) => j }.size

  /** SortExec nodes whose input subtree contains a join — the cliff shape. */
  private def fanoutSorts(plan: SparkPlan): Seq[SortExec] =
    PlanAsserts.deepCollect(plan) { case s: SortExec => s }
      .filter(_.children.exists(joinsBelow(_) > 0))

  private def shuffledHashJoins(plan: SparkPlan): Int =
    PlanAsserts.deepCollect(plan) { case j: ShuffledHashJoinExec => j }.size

  /** Hash-family joins — what a re-attach is allowed to plan as under the
    * Reattach.adaptive protocol: broadcast while the build side provably
    * fits the threshold, shuffled-hash above it. Never sort-merge.
    */
  private def hashJoins(plan: SparkPlan): Int =
    PlanAsserts.deepCollect(plan) {
      case j: ShuffledHashJoinExec => j
      case j: BroadcastHashJoinExec => j
    }.size

  test("no candidate-fanout pipeline sorts a join output") {
    val docs = graft.query.Tables(spark, sfDir, "documents")
    val emb = graft.query.Tables(spark, sfDir, "embeddings")
    // lazy signature table (doc_id, sig) for the cross/self signature
    // entry points — minhashSignatures itself checkpoints, which would
    // hide its callers' plans from the lint
    def lazySigs: DataFrame =
      graft.llm.References.minhashPairsPlan(docs, 0.5, 16, 4,
        exactVerify = false, maxBucket = 0)._1.select("doc_id", "sig")

    val pipelines: Seq[(String, () => DataFrame)] = Seq(
      "minhashPairs(estimate)" -> (() =>
        graft.llm.References.minhashPairsPlan(docs, 0.5, 16, 4,
          exactVerify = false, maxBucket = 0)._2),
      "minhashPairs(exact)" -> (() =>
        graft.llm.References.minhashPairsPlan(docs, 0.5, 16, 4,
          exactVerify = true, maxBucket = 0)._2),
      "minhashPairs(capped)" -> (() =>
        graft.llm.References.minhashPairsPlan(docs, 0.5, 16, 4,
          exactVerify = false, maxBucket = 100)._2),
      "cosinePairs" -> (() =>
        graft.llm.VectorOps.cosinePairsPlan(emb, 0.9, 8, 8, 0,
          maxBucket = 0)._2),
      "cosinePairs(capped)" -> (() =>
        graft.llm.VectorOps.cosinePairsPlan(emb, 0.9, 8, 8, 0,
          maxBucket = 1000)._2),
      "minhashPairsAgainst" -> (() =>
        graft.llm.VectorOps.minhashPairsAgainst(lazySigs, lazySigs, 0.5,
          reattach = graft.plans.Reattach.shuffleHash)),
      "minhashPairsAgainst(capped)" -> (() =>
        graft.llm.VectorOps.minhashPairsAgainst(lazySigs, lazySigs, 0.5,
          maxBucket = 100, reattach = graft.plans.Reattach.shuffleHash)),
      "minhashPairsFromSigs" -> (() =>
        graft.llm.VectorOps.minhashPairsFromSigs(lazySigs, 0.5,
          reattach = graft.plans.Reattach.shuffleHash)),
      "knnGraph" -> (() =>
        graft.llm.Clustering.knnGraph(emb, k = 5, nCells = 16, nProbe = 4)),
      "knnGraph(capped)" -> (() =>
        graft.llm.Clustering.knnGraph(emb, k = 5, nCells = 16, nProbe = 4,
          maxCell = 50)),
      "substringDedup" -> (() =>
        graft.llm.SubstringDedup.clean(docs, 8)))

    val bad = scala.collection.mutable.ArrayBuffer.empty[String]
    pipelines.foreach { case (name, build) =>
      val plan = build().queryExecution.sparkPlan
      fanoutSorts(plan).foreach { s =>
        bad += s"$name: SortExec over a join output (the x100 cliff):\n" +
          s.treeString.linesIterator.take(8).mkString("\n")
      }
      // adaptive-re-attach pipelines (knnGraph, substringDedup) broadcast
      // at fixture scale, so the anti-rot floor counts the HASH-JOIN
      // family; the fixed shuffleHash pipelines still satisfy it trivially
      val hj = hashJoins(plan)
      if (hj < 2)
        bad += s"$name: expected >=2 hash-family re-attach joins, saw $hj" +
          " — hints dropped or pipeline reshaped; re-audit the lint"
    }
    assert(bad.isEmpty, s"\n${bad.mkString("\n\n")}")
  }

  test("adaptive-re-attach pipelines under a disabled broadcast threshold " +
    "(the 100 TB regime) hold the shuffle-hash floor with no fanout sort") {
    val docs = graft.query.Tables(spark, sfDir, "documents")
    val emb = graft.query.Tables(spark, sfDir, "embeddings")
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(thrKey)
    spark.conf.set(thrKey, "-1")
    try {
      val pipelines: Seq[(String, () => DataFrame)] = Seq(
        "knnGraph" -> (() =>
          graft.llm.Clustering.knnGraph(emb, k = 5, nCells = 16, nProbe = 4)),
        // guardMinRecall=0: the lint must see the PRE-RANK plan — the
        // default self-guard fires on this isotropic fixture and would
        // fall back to the (already-linted) exact pipeline
        "knnGraph(refine)" -> (() =>
          graft.llm.Clustering.knnGraph(emb, k = 5, nCells = 16, nProbe = 4,
            refine = 3, guardMinRecall = 0.0)),
        "substringDedup" -> (() =>
          graft.llm.SubstringDedup.clean(docs, 8)))
      val bad = scala.collection.mutable.ArrayBuffer.empty[String]
      pipelines.foreach { case (name, build) =>
        val plan = build().queryExecution.sparkPlan
        fanoutSorts(plan).foreach { s =>
          bad += s"$name: SortExec over a join output at threshold=-1:\n" +
            s.treeString.linesIterator.take(8).mkString("\n")
        }
        val shj = shuffledHashJoins(plan)
        if (shj < 2)
          bad += s"$name: expected the >=2 shuffle-hash floor at " +
            s"threshold=-1, saw $shj"
      }
      assert(bad.isEmpty, s"\n${bad.mkString("\n\n")}")
    } finally spark.conf.set(thrKey, old)
  }

  test("Reattach.adaptive: broadcast under the threshold on a MATERIALIZED " +
    "build side; shuffle-hash floor when broadcasting is disabled — " +
    "sort-merge unreachable in both regimes") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val build = (0L until 100L).map(i => (i, Seq.fill(8)(i))).toDF("id", "sig")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    build.count() // real cached size lands in the plan stats
    val probe = (0L until 1000L).map(i => (i % 100, i)).toDF("id", "x")
    def joinPlan(): SparkPlan =
      probe.join(graft.plans.Reattach.adaptive(build), "id")
        .queryExecution.sparkPlan
    // default threshold (10 MB): a 100-row cached frame is provably small
    val bc = PlanAsserts.deepCollect(joinPlan()) {
      case j: BroadcastHashJoinExec => j }
    assert(bc.nonEmpty, "small materialized build side must broadcast")
    // threshold disabled == the 100 TB regime: the floor is shuffle-hash,
    // NEVER a sort-merge over the probe (candidate) side
    val thrKey = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(thrKey)
    spark.conf.set(thrKey, "-1")
    try {
      val plan = joinPlan()
      assert(PlanAsserts.deepCollect(plan) {
        case j: ShuffledHashJoinExec => j }.nonEmpty,
        s"expected the shuffle-hash floor in:\n$plan")
      assert(PlanAsserts.deepCollect(plan) {
        case j: SortMergeJoinExec => j }.isEmpty,
        s"sort-merge re-attach is the x100 cliff:\n$plan")
    } finally spark.conf.set(thrKey, old)
    build.unpersist()
  }
}
