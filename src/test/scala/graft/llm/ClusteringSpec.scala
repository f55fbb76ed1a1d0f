package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** L20-L22: distributed k-means, SemDeDup semantic dedup, k-NN graph. */
class ClusteringSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // three tight planted clusters in 4-d, far apart; ids interleave the
  // clusters so lowest-id seeding starts with one seed per cluster (the
  // caller's contract: seed ids should spread across the data — same
  // discipline the planted-oracle queries use)
  private def clustered() = Seq(
    (0L, Seq(10.0, 0.0, 0.0, 0.1)),
    (1L, Seq(0.0, 10.0, 0.1, 0.0)),
    (2L, Seq(0.0, 0.1, 10.0, 0.0)),
    (3L, Seq(10.1, 0.1, 0.0, 0.0)),
    (4L, Seq(0.1, 9.9, 0.0, 0.0)),
    (5L, Seq(0.1, 0.0, 9.9, 0.1)),
    (6L, Seq(9.9, 0.0, 0.1, 0.0))
  ).toDF("vec_id", "v")

  test("kmeansFit recovers planted clusters; assignment is pure and total") {
    val df = clustered()
    val cents = Clustering.kmeansFit(df, k = 3, iters = 3)
    val assigned = Clustering.kmeansAssign(df, cents)
      .select("vec_id", "cluster").as[(Long, Int)].collect().toMap
    assert(assigned.size == 7)
    // members of a planted cluster share a label; different clusters differ
    assert(assigned(0L) == assigned(3L) && assigned(3L) == assigned(6L))
    assert(assigned(1L) == assigned(4L))
    assert(assigned(2L) == assigned(5L))
    assert(Set(assigned(0L), assigned(1L), assigned(2L)).size == 3)
  }

  test("kmeansFit: centroid is the cluster mean; empty cluster keeps its seed") {
    // duplicate seeds: every point ties to seed 0 (tie-break -> lowest
    // cluster), cluster 1 goes EMPTY after the first update and must keep
    // its previous centroid (not NaN, not reseeded)
    val df = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.0)))
      .toDF("vec_id", "v")
    val cents = Clustering.kmeansFit(df, k = 2, iters = 1)
    val c0 = cents.find(_._1 == 0).get._2
    assert(math.abs(c0.head - 1.0 / 3) < 1e-12) // mean of 0, 0, 1
    val c1 = cents.find(_._1 == 1).get._2
    assert(c1 == Seq(0.0, 0.0)) // kept its seed
  }

  test("kmeansFit rejects a ragged vector with a descriptive error") {
    // one 3-d vector among 4-d ones; under a non-ANSI session element_at
    // reads past it as null (a null per-dim sum, once a driver NPE)
    val df = clustered().union(Seq((7L, Seq(10.0, 0.0, 0.0))).toDF("vec_id", "v"))
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.getOption(key)
    for (ansi <- Seq("false", "true")) {
      spark.conf.set(key, ansi)
      try {
        val e = intercept[Exception](Clustering.kmeansFit(df, k = 3, iters = 2))
        assert(!e.isInstanceOf[NullPointerException], s"ansi=$ansi: $e")
        if (ansi == "false") {
          assert(e.isInstanceOf[IllegalArgumentException], s"$e")
          assert(e.getMessage.contains("ragged vectors"), e.getMessage)
        }
      } finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("kmeansFit clamps k to the corpus size instead of crashing") {
    val df = Seq((0L, Seq(0.0, 0.0)), (1L, Seq(5.0, 5.0))).toDF("vec_id", "v")
    val cents = Clustering.kmeansFit(df, k = 10, iters = 2)
    assert(cents.length == 2)
    val assigned = Clustering.kmeansAssign(df, cents)
      .select("cluster").as[Int].collect().toSet
    assert(assigned == Set(0, 1))
  }

  test("clusterOf tie-break goes to the lowest cluster index") {
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(1.0, 0.0)))
    val df = Seq((0L, Seq(5.0, 3.0))).toDF("vec_id", "v")
    val c = Clustering.kmeansAssign(df, cents)
      .select("cluster").as[Int].head()
    assert(c == 0)
  }

  test("semanticDedup: planted near-dup drops, lowest id survives, " +
    "distant same-cluster members survive") {
    val df = Seq(
      (0L, Seq(10.0, 0.0, 0.0, 0.0)),
      (1L, Seq(10.0, 0.001, 0.0, 0.0)),  // near-dup of 0 (cos ~ 1)
      (2L, Seq(8.0, 6.0, 0.0, 0.0)),     // same cluster, cos(0,2) = 0.8
      (3L, Seq(0.0, 0.0, 10.0, 0.0)),
      (4L, Seq(0.0, 0.0, 10.0, 0.002))   // near-dup of 3
    ).toDF("vec_id", "v")
    val out = Clustering.semanticDedup(df, k = 2, iters = 2,
      cosThreshold = 0.99)
    val keep = out.select("vec_id", "keep").as[(Long, Boolean)]
      .collect().toMap
    assert(keep == Map(0L -> true, 1L -> false, 2L -> true,
      3L -> true, 4L -> false))
    // result carries input columns + cluster + keep
    assert(out.columns.toSet == Set("vec_id", "v", "cluster", "keep"))
  }

  test("semanticDedup maxCluster cap: bounded anchors, anchor dups still drop, " +
    "non-anchor-only dup groups are the documented recall trade") {
    // one HOT cluster (ids 1..10 fanned 3° apart around +x — adjacent
    // cos ≈ 0.9986, below the 0.999 threshold) + a far cluster {0, 30}
    // so lowest-id seeds {0, 1} spread one per planted cluster. Planted
    // near-dups: 20 ~ 1 (an ANCHOR under cap 3: {1,2,3}) and 21 ~ 10
    // (both outside the anchor set).
    def ray(deg: Double) = {
      val r = math.toRadians(deg)
      Seq(10 * math.cos(r), 10 * math.sin(r), 0.0, 0.0)
    }
    val hot = (0 until 10).map(j => ((j + 1).toLong, ray(3.0 * j)))
    val df = (Seq(
      (0L, Seq(0.0, 0.0, 10.0, 0.0)), (30L, Seq(0.0, 3.0, 9.5, 0.0)),
      (20L, ray(0.1)), (21L, ray(27.1))) ++ hot).toDF("vec_id", "v")
    val capped = Clustering.semanticDedup(df, k = 2, iters = 2,
        cosThreshold = 0.999, maxCluster = 3)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    // the planted dup of an anchor still drops under the cap...
    assert(!capped(20L), "dup of anchor id 1 must drop under the cap")
    // ...every anchor and every mutually-distant member survives...
    (1L to 10L).foreach(i => assert(capped(i), s"member $i must survive"))
    assert(capped(0L) && capped(30L))
    // ...and the non-anchor-only pair (10, 21) is missed — the documented
    // recall trade the cap buys its size bound with:
    assert(capped(21L), "non-anchor dup is outside the capped join")
    val uncapped = Clustering.semanticDedup(df, k = 2, iters = 2,
        cosThreshold = 0.999)
      .select("vec_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(!uncapped(20L) && !uncapped(21L))
    assert((1L to 10L).forall(uncapped(_)))
  }

  test("knnGraph maxCell cap bounds a degenerate cell's candidate set") {
    // every vector in ONE dense mode -> one IVF cell: the uncapped cell
    // join is all-pairs; the cap keeps only the 4 most central members
    // as candidate neighbors, so the neighbor universe is <= 4 while
    // every query still resolves neighbors
    val df = (0 until 12).map { i =>
      val r = math.toRadians(0.5 * i)
      (i.toLong, Seq(math.cos(r).toFloat, math.sin(r).toFloat))
    }.toDF("vec_id", "embedding")
    val capped = Clustering.knnGraph(df, k = 3, nCells = 1, nProbe = 1,
      maxCell = 4)
    val neighbors = capped.select("neighbor_id").as[Long].collect().toSet
    assert(neighbors.size <= 4,
      s"capped cell leaked ${neighbors.size} distinct neighbors")
    val queries = capped.select("query_id").as[Long].collect().toSet
    assert(queries.size == 12, "every vector must still get neighbors")
    val uncapped = Clustering.knnGraph(df, k = 3, nCells = 1, nProbe = 1)
    assert(uncapped.select("neighbor_id").as[Long].collect().toSet.size == 12)
  }

  test("diverseSample: balanced per-cluster counts, deterministic hash rank") {
    // 3 planted clusters of sizes 3/2/2 (the `clustered` fixture):
    // perCluster=2 must take exactly min(2, size) from EACH cluster
    val df = clustered()
    val got = Clustering.diverseSample(df, k = 3, iters = 3, perCluster = 2)
    val perCluster = got.groupBy("cluster").count()
      .select("count").as[Long].collect().toSeq
    assert(perCluster.sorted === Seq(2L, 2L, 2L))
    // reproducible: the hash rank is a pure function of the ids
    val again = Clustering.diverseSample(df, k = 3, iters = 3, perCluster = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(again === got.select("vec_id").as[Long].collect().toSet)
    // perCluster >= cluster size degenerates to the full corpus
    val all7 = Clustering.diverseSample(df, k = 3, iters = 3, perCluster = 10)
    assert(all7.count() === 7)
  }

  test("semanticDedup is idempotent on its survivors") {
    val df = Seq(
      (0L, Seq(10.0, 0.0)), (1L, Seq(10.0, 0.01)), (2L, Seq(0.0, 10.0))
    ).toDF("vec_id", "v")
    val once = Clustering.semanticDedup(df, 2, 2, 0.99)
      .filter(col("keep")).select("vec_id", "v")
    val twice = Clustering.semanticDedup(once, 2, 2, 0.99)
    assert(twice.filter(!col("keep")).count() == 0)
  }

  test("drift guard: native NearestCentroid == composed struct/array_max " +
    "form, including exact ties (lowest index wins)") {
    // 40 pseudo-random 6-d vectors + crafted exact-tie rows
    val rows = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(6)(j =>
        math.sin(i * 7 + j * 13) * 3 + math.cos(i * 3 - j) * 2))
    } ++ Seq(
      (100L, Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0)), // equidistant to all
      (101L, Seq(1.0, 1.0, 0.0, 0.0, 0.0, 0.0))) // ties duplicate centroids
    val df = rows.toDF("vec_id", "v")
    val cents = Seq(
      (0, Seq(1.0, 2.0, -1.0, 0.5, 0.0, 1.5)),
      (1, Seq(-2.0, 0.0, 3.0, 1.0, -1.0, 0.0)),
      (2, Seq(1.0, 2.0, -1.0, 0.5, 0.0, 1.5)), // duplicate of 0 (tie bait)
      (3, Seq(0.5, -0.5, 0.5, -0.5, 0.5, -0.5)),
      (4, Seq(2.0, -1.0, 0.0, 3.0, 1.0, -2.0)))
    val got = df.select(col("vec_id"),
      Clustering.clusterOf(cents)(col("v")).as("native"),
      References.clusterOfReference(cents)(col("v")).as("ref"))
      .collect()
    got.foreach { r =>
      assert(r.getInt(1) == r.getInt(2),
        s"vec ${r.getLong(0)}: native ${r.getInt(1)} != ref ${r.getInt(2)}")
    }
  }

  test("drift guard: TopCentroids (spherical) == sorted literal-dot ranking") {
    val rows = (0 until 30).map { i =>
      (i.toLong, Seq.tabulate(5)(j => math.sin(i * 11 + j * 5) * 2))
    }
    val df = rows.toDF("vec_id", "v")
    val cents = (0 until 7).map(c =>
      (c, Seq.tabulate(5)(j => math.cos(c * 17 + j * 3) * 2)))
    val (flat, dim) = (cents.flatMap(_._2), 5)
    val native = df.select(col("vec_id"),
      graft.functions.GraftFunctions
        .topCentroids(col("v"), flat, dim, 3, euclidean = false).as("cells"))
      .as[(Long, Seq[Int])].collect().toMap
    // reference ranking computed driver-side per vector
    rows.foreach { case (id, v) =>
      val scored = cents.map { case (c, cv) =>
        (c, v.zip(cv).map { case (a, b) => a * b }.sum)
      }
      val want = scored.sortBy { case (c, s) => (-s, c) }.take(3).map(_._1)
      assert(native(id) == want, s"vec $id: ${native(id)} != $want")
    }
  }

  test("semanticClusters: CC over the kNN graph recovers planted " +
    "components; representatives carry keep=true") {
    val rows = (0 until 15).map { i =>
      val g = i % 3
      val v = Array(0.0f, 0.0f, 0.0f, 0.0f)
      v(g) = 10.0f
      v(3) = 0.01f * i
      (i.toLong, v.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val cc = Clustering.semanticClusters(df, kNeighbors = 3, nCells = 3,
        nProbe = 3, minCos = 0.5)
      .select("doc_id", "cluster_id", "keep")
      .as[(Long, Long, Boolean)].collect()
    assert(cc.length == 15)
    // components == planted groups; cluster id == the group's lowest id
    cc.foreach { case (id, cid, keep) =>
      assert(cid == id % 3, s"vec $id in component $cid")
      assert(keep == (id == cid))
    }
  }

  test("Lloyd law: inertia is non-increasing over iterations") {
    // pseudo-random 40 x 6-d corpus, no planted structure — the law must
    // hold on arbitrary data
    val rows = (0 until 40).map { i =>
      (i.toLong, Seq.tabulate(6)(j => math.sin(i * 13 + j * 7) * 5))
    }
    val df = rows.toDF("vec_id", "v")
    def inertia(cents: Seq[(Int, Seq[Double])]): Double =
      rows.map { case (_, v) =>
        cents.map { case (_, c) =>
          v.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
        }.min
      }.sum
    val byIter = (0 to 4).map(it =>
      inertia(Clustering.kmeansFit(df, k = 4, iters = it)))
    byIter.sliding(2).foreach { case Seq(prev, next) =>
      assert(next <= prev + 1e-9, s"inertia rose: $byIter")
    }
    // and it actually improves from the raw seeds on this data
    assert(byIter.last < byIter.head)
  }

  test("knnGraph on well-separated clusters matches the exact graph") {
    // 12 vectors in 3 planted clusters; with nCells=3 and nProbe=3 the
    // probe covers everything, so the IVF graph must EQUAL brute force
    val rows = (0 until 12).map { i =>
      val g = i % 3
      val base = Array(0.0f, 0.0f, 0.0f, 0.0f)
      base(g) = 10.0f
      base(3) = 0.01f * i
      (i.toLong, base.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    val graph = Clustering.knnGraph(df, k = 3, nCells = 3, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = VectorOps.bruteForceTopK(df, df, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(graph == exact)
    assert(graph.size == 12 * 3)
  }

  test("knnGraph with the SDC pre-rank (refine) matches the exact graph " +
    "when quantization is exact") {
    // same planted fixture as the uncapped test; with <= ksub distinct
    // vectors every vector IS its own PQ centroid, so the SDC pre-rank
    // scores are the exact dots and the refined graph must EQUAL brute
    // force — this isolates the pre-rank plumbing from quantization error
    val rows = (0 until 12).map { i =>
      val g = i % 3
      val base = Array(0.0f, 0.0f, 0.0f, 0.0f)
      base(g) = 10.0f
      base(3) = 0.01f * i
      (i.toLong, base.toSeq)
    }
    val df = rows.toDF("vec_id", "embedding")
    var audit: Option[Clustering.RefineAudit] = None
    val graph = Clustering.knnGraph(df, k = 3, nCells = 3, nProbe = 3,
      refine = 2, onRefineAudit = a => audit = Some(a))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = VectorOps.bruteForceTopK(df, df, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(graph == exact)
    // the guard stays quiet on the separated corpus AND says so:
    // committed pre-rank, measured recall at/above the threshold
    assert(audit.exists(a => a.usedPreRank && a.auditRecall >= 0.9),
      s"audit: $audit")
  }

  test("knnGraph refine self-guard: fires on an isotropic near-tie corpus " +
    "(output falls back to the exact path); forcing the pre-rank past the " +
    "guard provably changes neighbors") {
    // deterministic pseudo-random unit-ish vectors: top-k cosine gaps sit
    // at the same scale as coarse PQ quantization error (ksub=4, dsub=1),
    // the regime where the SDC pre-rank cannot separate true neighbors
    val rows = (0 until 256).map { i =>
      val vec = (0 until 8).map { j =>
        val h = scala.util.hashing.MurmurHash3.productHash((i, j))
        ((h % 1000) / 1000.0f)
      }
      (i.toLong, vec)
    }
    val df = rows.toDF("vec_id", "embedding")
    def edges(g: org.apache.spark.sql.DataFrame) =
      g.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact = edges(Clustering.knnGraph(df, k = 5, nCells = 4, nProbe = 4))
    // guarded refine: the audit recall is sub-threshold here, so the call
    // must WARN, fall back — AND surface the verdict to the caller
    // through onRefineAudit (the production alerting hook; a pipeline
    // must not have to grep driver logs to learn its dial was refused)
    var audit: Option[Clustering.RefineAudit] = None
    val guarded = edges(Clustering.knnGraph(df, k = 5, nCells = 4,
      nProbe = 4, refine = 2, pqKsub = 4, onRefineAudit = a => audit = Some(a)))
    assert(guarded === exact,
      "guard did not fall back to the exact path on the near-tie corpus")
    val a = audit.getOrElse(fail("onRefineAudit not invoked"))
    assert(!a.usedPreRank, "audit verdict disagrees with the fallback")
    assert(a.auditRecall >= 0.0 && a.auditRecall < 0.9,
      s"sub-threshold recall expected, got ${a.auditRecall}")
    // the guard is not vacuous: forcing the pre-rank (guardMinRecall=0)
    // on the same corpus yields a DIFFERENT neighbor set — exactly the
    // silent divergence the guard exists to catch; the audit reports
    // the forced path (recall unmeasured = -1)
    var forcedAudit: Option[Clustering.RefineAudit] = None
    val forced = edges(Clustering.knnGraph(df, k = 5, nCells = 4,
      nProbe = 4, refine = 2, pqKsub = 4, guardMinRecall = 0.0,
      onRefineAudit = a => forcedAudit = Some(a)))
    assert(forced !== exact,
      "fixture does not exercise the quantization-loss regime")
    assert(forcedAudit.exists(a => a.usedPreRank && a.auditRecall == -1.0))
  }

  test("SdcScore reads the (j,a,b) table exactly; the table is symmetric") {
    // m=2, dsub=2, ksub=2: subspace 0 centroids (1,0),(0,1); subspace 1
    // centroids (2,0),(0,3)
    val model = Pq.PqModel(m = 2, dsub = 2, ksub = 2,
      flat = Seq(1.0, 0.0, 0.0, 1.0, 2.0, 0.0, 0.0, 3.0))
    val t = Pq.sdcTables(model)
    assert(t == Seq(1.0, 0.0, 0.0, 1.0, 4.0, 0.0, 0.0, 9.0))
    val pairs = Seq(
      (Seq(0, 1), Seq(0, 1), 1.0 + 9.0),
      (Seq(0, 1), Seq(1, 0), 0.0),
      (Seq(1, 1), Seq(1, 1), 1.0 + 9.0),
      (Seq(0, 0), Seq(0, 0), 1.0 + 4.0)).toDF("a", "b", "want")
    val got = pairs.select(
      graft.functions.GraftFunctions.sdcScore(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"), t, model.ksub).as("got"),
      org.apache.spark.sql.functions.col("want"))
      .as[(Double, Double)].collect()
    got.foreach { case (g, w) => assert(math.abs(g - w) < 1e-12, s"$g != $w") }
    // out-of-range codes contribute 0, never read out of bounds
    val oob = Seq((Seq(0, 7), Seq(0, 1))).toDF("a", "b")
      .select(graft.functions.GraftFunctions.sdcScore(
        org.apache.spark.sql.functions.col("a"),
        org.apache.spark.sql.functions.col("b"), t, model.ksub))
      .as[Double].head()
    assert(oob == 1.0)
  }

  test("knnGraph ranking runs the TopK heap plan, not a window sort") {
    val rows = (0 until 20).map { i =>
      (i.toLong, Seq.tabulate(4)(j => if (j == i % 2) 10.0f else 0.01f * i))
    }
    val df = rows.toDF("vec_id", "embedding")
    val graph = Clustering.knnGraph(df, k = 2, nCells = 2, nProbe = 2)
    val plan = graph.queryExecution.executedPlan
    graph.collect()
    val hasHeap = graft.PlanAsserts.deepCollect(plan) {
      case p if p.nodeName.contains("TopKPerKey") => p
    }.nonEmpty
    val hasWindow = graft.PlanAsserts.deepCollect(plan) {
      case p if p.nodeName.contains("Window") => p
    }.nonEmpty
    assert(hasHeap, s"expected TopKPerKey in:\n${plan.toString}")
    assert(!hasWindow, "graph ranking must not fall back to a window sort")
  }
}
