package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Q
import graft.query.Tables
import graft.query.Tables.cnt

/** Embedding-space clustering + the curation operators built on it
  * (SURVEY.md §2.11 L20-L22): distributed Lloyd k-means, SemDeDup-style
  * semantic deduplication, and k-NN graph construction.
  *
  * The reference has no analog (`/root/reference/` ends at relational
  * analytics); these are north-star training-data-pipeline ops like L1-L18.
  *
  * 100 TB design stance:
  *  - k-means assignment is a narrow codegen'd argmin map over K broadcast
  *    centroid literals — no shuffle, no join for the corpus side; the
  *    centroid update shuffles only k x partitions partial-sum rows (dim
  *    sums wide, map-side partial aggregation), independent of corpus
  *    size. Each Lloyd iteration is exactly one corpus scan.
  *  - semantic dedup bounds the quadratic pair stage by CLUSTER, the
  *    SemDeDup construction: k grows with the corpus so per-cluster
  *    populations stay bounded, and only same-cluster pairs are ever
  *    materialized.
  *  - the k-NN graph rides the IVF index (bounded candidate fan-out per
  *    vector: nProbe cells, not the corpus) and ranks through the
  *    [[graft.plans.TopK]] heap plan, so the ranking exchange carries at
  *    most k rows per vector per map partition instead of every candidate.
  */
object Clustering {

  /** Argmin-Euclidean cluster id over driver-resident centroids: argmin
    * ||v-c||^2 = argmax (v.c - ||c||^2/2), evaluated by the native
    * [[graft.functions.NearestCentroid]] kernel — ONE codegen'd loop over a
    * flat k x dim matrix, constant code size in K. The composed form (K
    * literal-dot struct subtrees + `array_max`) is kept below as the
    * drift-guard reference: it collapses once K grows past the IVF default
    * (measured: minutes instead of seconds at K=80 on 10k rows — codegen
    * size scales with K and the fallback is interpreted struct
    * comparisons), and SemDeDup clustering NEEDS K to grow with the corpus.
    * Ties break toward the LOWEST cluster index in both forms.
    */
  def clusterOf(cents: Seq[(Int, Seq[Double])])(v: Column): Column = {
    val ordered = cents.sortBy(_._1)
    require(ordered.map(_._1) == ordered.indices,
      s"centroid ids must be 0..k-1, got ${cents.map(_._1)}")
    val dim = ordered.head._2.length
    graft.functions.GraftFunctions.nearestCentroid(
      v, ordered.flatMap(_._2), dim, euclidean = true)
  }

  /** The composed-expression reference form of [[clusterOf]] — K struct
    * subtrees under `array_max`, ties to lowest index via the negated-index
    * field. Semantically the definition; kept for the drift-guard spec.
    */
  private[llm] def clusterOfReference(cents: Seq[(Int, Seq[Double])])(
      v: Column): Column = {
    val scored = array(cents.map { case (i, c) =>
      val negHalfNorm = -c.map(x => x * x).sum / 2
      struct((VectorOps.dot(v, typedLit(c)) + lit(negHalfNorm)).as("s"),
        lit(-i).as("negc"))
    }: _*)
    -array_max(scored).getField("negc")
  }

  /** Distributed Lloyd k-means over (idCol, vecCol: array<double>).
    *
    * Seeds are the `k` lowest-id vectors (one TakeOrdered job,
    * deterministic); each iteration then runs ONE corpus scan with NO
    * corpus-sized exchange: the argmin assignment (narrow map over K
    * literal centroids) keys a single hash aggregate whose per-dim
    * `sum(element_at(v, i))` columns do the centroid sums in place —
    * map-side partials bound the exchange at k x partitions rows, and
    * the k x dim mean matrix — all that ever reaches the driver —
    * rebuilds the centroids for the next round. Empty clusters keep
    * their previous centroid (deterministic, no reseeding RNG).
    *
    * This is the EXACT full-corpus refinement; when scans are the budget,
    * train on a bounded sample instead ([[VectorOps.ivfCentroids]] — one
    * job total) and spend the full scans only on final assignment.
    */
  def kmeansFit(corpus: DataFrame, k: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      hashSeeds: Boolean = true): Seq[(Int, Seq[Double])] = {
    // HASH-SPREAD seeding by default (deterministic: fixed-seed xxhash64,
    // total order via the id tiebreak). Seeding from the k LOWEST ids —
    // the pre-round-8 form, kept as `hashSeeds = false` — picks every
    // seed from whatever corner of the corpus carries the smallest ids;
    // on any corpus where id order correlates with content (ingest order,
    // shard order, the x100 replication probe) the seeds all land in one
    // region, distant regions glom into degenerate mega-clusters, and the
    // downstream within-cluster pair stage goes QUADRATIC (measured: 778M
    // pairs instead of ~12M at n=200k, k=1600 — BASELINE.md round-8). A
    // hash order is an unbiased sample no id layout can skew. The planted
    // purity fixtures (q_kmeans, q_sample_diverse) pin `false`: their
    // groups are laid out BY id, so id seeding is the semantically
    // aligned deterministic choice there, and only there.
    val seedOrder =
      if (hashSeeds)
        Seq(org.apache.spark.sql.functions.xxhash64(col(idCol)), col(idCol))
      else Seq(col(idCol))
    val seeds = corpus.orderBy(seedOrder: _*).limit(k)
      .select(col(vecCol)).collect().map(_.getSeq[Double](0))
    require(seeds.nonEmpty, s"k-means: no non-empty vectors in $vecCol")
    // a corpus smaller than k seeds fewer clusters — clamp instead of
    // indexing past the seed array (every row still gets a cluster)
    val kEff = math.min(k, seeds.length)
    val dim = seeds.head.length
    var cents: IndexedSeq[(Int, Seq[Double])] =
      seeds.take(kEff).zipWithIndex.map { case (c, i) => (i, c) }.toIndexedSeq
    // Per-dim sums in ONE hash aggregate keyed by cluster (r12, VERDICT
    // r11 item 2). The pre-r12 form ran `repartition + posexplode +
    // groupBy(cluster, dim)` per iteration: the keyless repartition moved
    // ALL n x (dim+1) doubles through an exchange every round (it existed
    // only as a CollapseProject barrier so the argmin kernel would not be
    // duplicated into the post-Generate projection — the round-8 probe),
    // and the explode fanned every row into dim rows, each paying a
    // (cluster, dim) hash probe. `sum(element_at(v, i))` needs no
    // Generate (the CollapseProject hazard is gone with the explode), no
    // barrier exchange, and ONE hash probe per row: the corpus-sized
    // exchange per iteration is REMOVED; the only shuffle left is the
    // k x partitions partial-aggregate rows. Requires fixed-dim vectors
    // (dim from the seeds — already this function's contract). ANSI
    // element_at throws on a short vector; a non-ANSI session reads null
    // past its end instead — silent drift in a shared cluster, a null sum
    // in a cluster of its own — so `ragged` counts wrong-size vectors and
    // the driver fails descriptively on either.
    for (_ <- 1 to iters) {
      val sumCols = (0 until dim).map(i =>
        sum(element_at(col("__v"), i + 1)).as(s"s$i")) :+ cnt.as("n") :+
        count(when(size(col("__v")) =!= dim, true)).as("ragged")
      val stats = corpus
        .filter(col(vecCol).isNotNull) // match posexplode: null rows count nowhere
        .select(clusterOf(cents)(col(vecCol)).as("cluster"),
          col(vecCol).as("__v"))
        .groupBy("cluster")
        .agg(sumCols.head, sumCols.tail: _*)
        .collect()
      val sums = Array.fill(kEff, dim)(0.0)
      val ns = new Array[Long](kEff)
      stats.foreach { r =>
        val c = r.getInt(0)
        if (r.getLong(dim + 2) > 0L) throw new IllegalArgumentException(
          s"k-means: cluster $c holds ${r.getLong(dim + 2)} vectors in " +
            s"$vecCol whose size is not the seeds' dimension $dim " +
            "(ragged vectors)")
        var i = 0
        while (i < dim) {
          if (r.isNullAt(i + 1)) throw new IllegalArgumentException(
            s"k-means: cluster $c has no value in dimension $i — the " +
              s"vectors in $vecCol hold null elements there")
          sums(c)(i) = r.getDouble(i + 1); i += 1
        }
        ns(c) = r.getLong(dim + 1)
      }
      cents = IndexedSeq.tabulate(kEff) { i =>
        if (ns(i) == 0L) (i, cents(i)._2)
        else (i, sums(i).toSeq.map(_ / ns(i)))
      }
    }
    cents
  }

  /** Append the argmin `cluster` column — a narrow codegen'd map, the
    * distributed half of the k-means step (no shuffle).
    */
  def kmeansAssign(corpus: DataFrame, cents: Seq[(Int, Seq[Double])],
      vecCol: String = "v"): DataFrame =
    corpus.withColumn("cluster", clusterOf(cents)(col(vecCol)))

  /** SemDeDup-style semantic near-dup removal: cluster the corpus
    * (k-means), then drop every vector that has a LOWER-ID same-cluster
    * neighbor at cosine >= `cosThreshold`. Returns the input columns plus
    * (cluster, keep).
    *
    * The drop rule is order-free (a pure predicate, not a greedy sweep), so
    * the result is deterministic and SQL-expressible — each near-dup group
    * inside a cluster keeps exactly its lowest id.
    *
    * Scale shape: the only quadratic stage is the same-cluster pair join,
    * which is the SemDeDup bargain — choose k ~ corpus/targetClusterSize so
    * clusters stay bounded, and the pair stage costs clusters x size^2,
    * never corpus^2. Cross-cluster near-dups are deliberately out of scope
    * (that is the recall trade the construction makes; the banded-LSH path
    * [[VectorOps.cosinePairsNative]] is the alternative when global recall
    * matters more than the cluster prior).
    *
    * `maxCluster` (0 = off) is the hot-cluster skew guard, the
    * [[VectorOps]] `maxBucket` discipline applied here: k-means makes no
    * size promise, and ONE degenerate cluster (a spam flood, a boilerplate
    * family) turns the pair join quadratic in that cluster. With the cap,
    * each vector compares only against its cluster's `maxCluster`
    * LOWEST-id members (the anchor set — a [[graft.plans.TopK]] heap pass,
    * bounded exchange), so the join is size x cap, never size². Clusters
    * at or under the cap are EXACTLY the uncapped semantics (the anchor
    * set is the whole cluster); in oversized clusters a near-dup group
    * living entirely among non-anchors is missed — the documented recall
    * trade, the price of a size bound no input can break.
    */
  def semanticDedup(corpus: DataFrame, k: Int, iters: Int,
      cosThreshold: Double, idCol: String = "vec_id",
      vecCol: String = "v", maxCluster: Int = 0): DataFrame = {
    val cents = kmeansFit(corpus, k, iters, idCol, vecCol)
    // snapshot before the plan branches (pair join reads it twice + the
    // result join once): eager checkpoint, lineage cut — see BASELINE.md
    // round-5 "snapshot-before-branch"
    val assigned = kmeansAssign(corpus, cents, vecCol).localCheckpoint()
    val a0 = assigned.select(col("cluster"), col(idCol).as("__id_a"),
      col(vecCol).as("__va"))
    val a = if (maxCluster <= 0) a0
      else graft.plans.TopK.perKey(a0, Seq("cluster"),
        Seq(col("__id_a").asc), maxCluster)
    val b = assigned.select(col("cluster"), col(idCol).as("__id_b"),
      col(vecCol).as("__vb"))
    val dropped = a.join(b, Seq("cluster"))
      .filter(col("__id_a") < col("__id_b"))
      .filter(VectorOps.cosine(col("__va"), col("__vb")) >= cosThreshold)
      .select(col("__id_b").as(idCol)).distinct()
      .withColumn("__dropped", lit(true))
    val out = assigned.join(dropped, Seq(idCol), "left")
      .withColumn("keep", coalesce(!col("__dropped"), lit(true)))
      .drop("__dropped")
      .localCheckpoint()
    // deterministic release of the intermediate snapshot — long-lived
    // sessions must not carry a corpus-sized block per invocation until GC
    // (the result materialization above is the price of that release)
    org.apache.spark.sql.graft.ColumnBridge.releaseLocalCheckpoint(assigned)
    out
  }

  /** k-NN graph over an embedding corpus: for EVERY vector, its `k`
    * approximate nearest neighbors by cosine — the substrate for
    * graph-based curation (SemDeDup variants, connected-component semantic
    * clusters, diversity sampling).
    *
    * Built on the IVF index: one bounded-sample training job + one corpus
    * scan for cell assignment ([[VectorOps.buildIvfIndex]]), then every
    * vector probes its `nProbe` nearest cells, candidates verify with the
    * codegen'd exact cosine, and ranking runs the [[graft.plans.TopK]]
    * heap plan — the exchange carries at most k rows per vector per map
    * partition, never the full candidate set (the window form would
    * shuffle + sort every candidate pair).
    *
    * At 100 TB: nCells grows with the corpus so cell populations stay
    * bounded; candidates per vector are then nProbe x cellSize regardless
    * of corpus size, and the graph build is scan + bucket-join + bounded
    * exchange — no all-pairs stage.
    *
    * `maxCell` (0 = off) is the hot-cell skew guard: nCells scaling keeps
    * AVERAGE cell population bounded, but a degenerate corpus (one dense
    * mode swallowing a cell) still makes that cell's candidate fan-out
    * quadratic. With the cap, each cell contributes only its `maxCell`
    * MOST CENTRAL members (highest dot with the cell centroid — the
    * members that best represent the cell; ties to lowest id) as
    * candidate neighbors, via one [[graft.functions.VectorExpressions]]
    * BestCentroid kernel pass + a [[graft.plans.TopK]] heap rank —
    * candidates are then <= nProbe x maxCell per query regardless of
    * skew. Cells at or under the cap are EXACTLY the uncapped semantics;
    * in oversized cells, edges to that cell's periphery are the recall
    * trade (graded against recall@5 in ClusteringSpec).
    *
    * `refine` (0 = off) inserts a PQ/SDC candidate PRE-RANK between
    * candidate generation and the exact verify — the ×100 lever, and the
    * measurement says WHY precisely: the exact path's ×100 cost is not
    * the cosine arithmetic but its two full-candidate-stream SHUFFLES
    * (re-attach by query_id, then by neighbor_id — n·nProbe·cellSize
    * rows × ~540 B widened; the round-8 spill surface). With refine on,
    * m-int PQ codes attach to both sides BEFORE the cell join, the SDC
    * score ([[graft.functions.SdcScore]]) and the TopK partial pass run
    * map-side on the fan-out with ZERO further full-stream exchanges,
    * and only the k·refine best per query re-attach real vectors.
    * Measured solo at the ×100 probe (200k×64f, nCells=1600, nProbe=4,
    * with the parallelism floor below): exact-all 232.9 s → refine=3
    * **30.3 s (7.7×)**, and the refine curve is ×10→×100 = 9.3→30.3 s —
    * 3.3× time for 10× vectors, retiring the round-8 15×-superlinear
    * finding (113.8 s). Returned-edge mean cosine 0.9930 → 0.9917.
    * A draft that re-attached codes to the candidate stream as a
    * separate join pass was SLOWER than exact-all at every scale — it
    * kept both full-stream shuffles and only narrowed the payload; the
    * shuffle count, not the byte width, is the cost.
    *
    * Quantization error in the pre-rank is the recall trade; `refine` is
    * the margin (a true neighbor is lost only when ≥ k·refine candidates
    * OUT-SCORE it on quantized dots). On a near-tie corpus (dense dup
    * clusters) the loss is negligible (−0.13% mean cosine above); on an
    * ISOTROPIC corpus whose top-k gaps sit near the quantization
    * resolution, raise the margin and the codebook (refine ≥ 10,
    * pqKsub = 256) or keep refine = 0 — fixture-scale defaults stay
    * exact-all for that reason. The dial is SELF-GUARDING
    * (`guardMinRecall`, default 0.9): before committing to the pre-rank
    * the call measures pre-rank recall on a bounded 50-query audit sample
    * and falls back to the exact path WITH a stderr warning when the
    * corpus is in that regime — a caller can no longer silently get
    * different neighbors by flipping refine on near-tie data. Graded in
    * ClusteringSpec (refined == brute force under exact quantization;
    * guard fires on the isotropic fixture and the output equals
    * refine=0's; guard stays quiet on the separated fixture).
    */
  /** The refine guard's measured verdict, surfaced to the CALLER (not
    * just stderr): `auditRecall` is the bounded-sample pre-rank recall@k
    * (−1 when the guard was disabled and nothing was measured),
    * `usedPreRank` whether the SDC pre-rank was committed or the call
    * fell back to the exact path. A production pipeline passes
    * `onRefineAudit` and ALERTS on fallback / low recall instead of
    * grepping driver logs for the warning line.
    */
  final case class RefineAudit(auditRecall: Double, usedPreRank: Boolean)

  def knnGraph(corpus: DataFrame, k: Int, nCells: Int = 16,
      nProbe: Int = 4, maxCell: Int = 0, refine: Int = 0,
      pqM: Int = 8, pqKsub: Int = 64,
      guardMinRecall: Double = 0.9,
      onRefineAudit: RefineAudit => Unit = _ => ()): DataFrame = {
    val idx = VectorOps.buildIvfIndex(corpus, nCells)
    val cells = idx.centroids.sortBy(_._1)
    val v = VectorOps.toDouble(col("embedding"))
    // candidate generation moves IDS ONLY: the cell bucket join and its
    // n x nProbe x cellSize output carry 16-byte (query, neighbor) rows —
    // embeddings re-attach afterwards, per side, for the verify (the
    // cosinePairsNative discipline; an early probe draft shipped the
    // 8*dim-byte query vector through the bucket join and the candidate
    // stream dominated the probe's shuffle at 10x corpus)
    // PARALLELISM FLOOR before the fan-out: in the broadcast re-attach
    // regime (small corpora under Reattach.adaptive) the pipeline has no
    // exchange at all, so candidate generation + scoring + the TopK
    // partial pass inherit the SCAN's split count — one or two tasks at
    // fixture scale (measured: q_knn_graph 1.9 → 3.3 s when the broadcast
    // first landed without this). The repartition moves only 16-byte
    // (query_id, cell) rows — n·nProbe·16 B at any scale — and pins the
    // fan-out's parallelism to the cluster, not the file layout.
    val probed = corpus
      .select(col("vec_id").as("query_id"),
        explode(graft.functions.GraftFunctions.topCentroids(
          v, cells.flatMap(_._2), cells.head._2.length, nProbe,
          euclidean = false)).as("cell"))
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
    // hot-cell cap: rank each cell's members by centrality (dot with the
    // own-cell centroid, read off the same BestCentroid kernel that
    // assigns cells) and keep the top maxCell — a bounded heap exchange,
    // applied only when the guard is on
    val cellMembers =
      if (maxCell <= 0) idx.assignments.select("neighbor_id", "cell")
      else graft.plans.TopK.perKey(
        idx.assignments.select(col("neighbor_id"), col("cell"),
          graft.functions.GraftFunctions.bestCentroid(col("tv"),
            cells.flatMap(_._2), cells.head._2.length)
            .getField("dot").as("__cc")),
        Seq("cell"), Seq(col("__cc").desc, col("neighbor_id").asc), maxCell)
        .drop("__cc")
    // PQ/SDC pre-rank (refine > 0): the codes attach to BOTH SIDES of the
    // cell join (corpus-sized joins, cheap), so the candidate fan-out
    // carries two m-int code arrays (~80 B/row at m=8) and the SDC score +
    // TopK partial pass evaluate MAP-SIDE on the join output — the
    // candidate stream is never shuffled again. The separate-re-attach
    // draft (join candidates back to a code table) was measured SLOWER
    // than exact-all at every scale: the exact path's cost is its two
    // full-candidate-stream shuffles, and that draft kept both (it only
    // narrowed the payload); this form eliminates them. The early-draft
    // caveat about shipping payloads through the bucket join applied to
    // 8·dim-byte vectors whose fan-out then re-shuffled — m-int codes with
    // zero post-fan-out shuffles are the opposite regime.
    def exactCandidates = probed.join(cellMembers, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id")
    val candidates =
      if (refine <= 0) exactCandidates
      else {
        // subspace count must divide dim; fall back to the largest divisor
        // (dim read from one row — a 1-row driver scalar, not a scan)
        val dim = corpus.select(size(v)).limit(1).head.getInt(0)
        val mUse = (math.min(pqM, dim) to 1 by -1).find(dim % _ == 0).get
        val model = Pq.train(corpus, m = mUse, ksub = pqKsub)
        // one encode pass feeds the guard's audit joins AND both pre-rank
        // re-attach legs (uncached, the corpus-wide encode would re-run
        // up to 5x per call); the checkpoint also gives Reattach.adaptive
        // the REAL cached size instead of a projection heuristic. Blocks
        // are ContextCleaner-reclaimed once the returned graph is GC'd
        // (the kmeansAssign precedent).
        val codes = Pq.encode(corpus, model).localCheckpoint()
        val sdc = Pq.sdcTables(model)
        // SELF-GUARD (refine's isotropic-recall caveat, made operational):
        // quantized pre-rank scores can't separate neighbors whose true
        // top-k gaps sit below the codebook's resolution — on such a
        // corpus a caller enabling refine would silently get different
        // neighbors. Rather than trusting the caller to know this from
        // scaladoc, MEASURE it on a bounded hash-spread audit sample
        // before committing to the pre-rank: exact top-k vs SDC
        // top-(k·refine) over each audit query's probed candidates — a
        // true neighbor survives the pre-rank iff it ranks inside the
        // k·refine margin on quantized dots, so the audit recall IS the
        // refined path's expected recall. Cost: 50·nProbe·cellSize pairs
        // (corpus-independent), two heap passes, one 1-row aggregate.
        // Below `guardMinRecall` (<= 0 disables the guard) the call warns
        // and falls back to the exact path — correctness degrades loudly,
        // never silently.
        val (auditRecall, guardOk) = if (guardMinRecall <= 0) (-1.0, true)
        else {
          val auditIds = corpus.select(col("vec_id"))
            .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(50)
          val auditQ = corpus.join(broadcast(auditIds), Seq("vec_id"))
            .join(broadcast(codes.join(broadcast(auditIds), Seq("vec_id"))
              .select(col("vec_id"), col("codes").as("__qc"))), Seq("vec_id"))
            .select(col("vec_id").as("query_id"), v.as("__qv"), col("__qc"))
          val auditProbe = auditQ.select(col("query_id"), col("__qv"),
            col("__qc"),
            explode(graft.functions.GraftFunctions.topCentroids(
              col("__qv"), cells.flatMap(_._2), cells.head._2.length,
              nProbe, euclidean = false)).as("cell"))
          val auditPairs = broadcast(auditProbe)
            .join(cellMembers, Seq("cell"))
            .filter(col("query_id") =!= col("neighbor_id"))
            .join(graft.plans.Reattach.adaptive(codes.select(
              col("vec_id").as("neighbor_id"), col("codes").as("__nc"))),
              Seq("neighbor_id"))
            .join(graft.plans.Reattach.adaptive(
              idx.assignments.select(col("neighbor_id"), col("tv"))),
              Seq("neighbor_id"))
            .select(col("query_id"), col("neighbor_id"),
              VectorOps.cosine(col("__qv"), col("tv")).as("__cos"),
              graft.functions.GraftFunctions.sdcScore(
                col("__qc"), col("__nc"), sdc, model.ksub).as("__sdc"))
            .localCheckpoint() // bounded; consumed by the two heap passes
          val exactTop = graft.plans.TopK.perKey(auditPairs,
            Seq("query_id"), Seq(col("__cos").desc, col("neighbor_id").asc),
            k).select("query_id", "neighbor_id")
          val sdcTop = graft.plans.TopK.perKey(auditPairs,
            Seq("query_id"), Seq(col("__sdc").desc, col("neighbor_id").asc),
            k * refine).select("query_id", "neighbor_id")
            .withColumn("__hit", lit(1L))
          val r = exactTop
            .join(sdcTop, Seq("query_id", "neighbor_id"), "left")
            .agg(cnt.as("n"),
              sum(coalesce(col("__hit"), lit(0L))).as("h")).head()
          auditPairs.unpersist()
          val recall =
            if (r.getLong(0) == 0L) 1.0
            else r.getLong(1).toDouble / r.getLong(0)
          val ok = recall >= guardMinRecall
          if (!ok) System.err.println(
            f"[graft] knnGraph refine=$refine GUARD: audit recall@$k = " +
              f"$recall%.3f < $guardMinRecall%.2f — top-k gaps sit below " +
              "the PQ quantization resolution on this corpus (the " +
              "isotropic/near-tie regime); falling back to the exact " +
              "path. Raise refine/pqKsub or pass guardMinRecall=0 to " +
              "force the pre-rank.")
          (recall, ok)
        }
        onRefineAudit(RefineAudit(auditRecall, guardOk))
        if (!guardOk) exactCandidates
        else {
          val probedC = probed.join(graft.plans.Reattach.adaptive(
            codes.select(col("vec_id").as("query_id"),
              col("codes").as("__qc"))), Seq("query_id"))
          val membersC = cellMembers.join(graft.plans.Reattach.adaptive(
            codes.select(col("vec_id").as("neighbor_id"),
              col("codes").as("__nc"))), Seq("neighbor_id"))
          val preranked = probedC.join(membersC, Seq("cell"))
            .filter(col("query_id") =!= col("neighbor_id"))
            .select(col("query_id"), col("neighbor_id"),
              graft.functions.GraftFunctions.sdcScore(
                col("__qc"), col("__nc"), sdc, model.ksub).as("__sdc"))
          graft.plans.TopK.perKey(preranked, Seq("query_id"),
            Seq(col("__sdc").desc, col("neighbor_id").asc), k * refine)
            .select("query_id", "neighbor_id")
        }
      }
    // Re-attach joins take the size-adaptive build side (Reattach.adaptive,
    // the r9 protocol): BROADCAST while the vector table provably fits the
    // session threshold — the candidate stream then never exchanges at all
    // (fixture scale: q_knn_graph carried 99 MB of suite shuffle under the
    // unconditional hint) — and the SHUFFLE_HASH floor above it. Sort-merge
    // stays unreachable in both regimes (FanoutSortLint): the candidate
    // stream is n x nProbe x cellSize rows and a sort-merge join must SORT
    // it — the round-8 x100 probe (200k vectors, 312M candidates) filled
    // the disk with exactly that sort's spill (~170 GB once qv widened the
    // rows). The build side is corpus-sized (bounded per partition) in the
    // hash regime, while the probe side only shuffles 16-byte id pairs.
    val scored = candidates
      .join(graft.plans.Reattach.adaptive(
        corpus.select(col("vec_id").as("query_id"), v.as("qv"))),
        Seq("query_id"))
      .join(graft.plans.Reattach.adaptive(
        idx.assignments.select(col("neighbor_id"), col("tv"))),
        Seq("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(VectorOps.cosine(col("qv"), col("tv")), 4).as("cos"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("cos").desc, col("neighbor_id").asc), k)
  }

  /** L27: semantic clusters as CONNECTED COMPONENTS over the k-NN graph —
    * the graph-native alternative to centroidal k-means: build the
    * [[knnGraph]], keep edges at cosine >= `minCos`, and resolve components
    * with the pointer-doubling min-label propagation the dedup stack
    * already ships ([[TextOps.dedupClusters]] — O(log diameter) rounds,
    * one shuffle per round). Unlike k-means it needs no k and finds
    * arbitrarily-shaped clusters; the cluster id is the component's lowest
    * vector id (deterministic). Output: (doc_id, cluster_id, keep) per
    * vector — `keep` marks the component representative, so this doubles
    * as a transitive-closure near-dup dedup (SemDeDup's within-cluster
    * pairs, without the cluster prior).
    *
    * Scale shape = knnGraph's (bounded candidate fan-out, heap-plan
    * ranking, id-only edges) + CC's (label frames of (id, id) pairs; edge
    * set is k x corpus, never corpus^2).
    */
  def semanticClusters(corpus: DataFrame, kNeighbors: Int = 8,
      nCells: Int = 16, nProbe: Int = 8, minCos: Double = 0.5,
      maxCell: Int = 0, refine: Int = 0,
      guardMinRecall: Double = 0.9,
      onRefineAudit: RefineAudit => Unit = _ => ()): DataFrame =
    TextOps.dedupClusters(
      knnGraph(corpus, kNeighbors, nCells, nProbe, maxCell, refine,
        guardMinRecall = guardMinRecall, onRefineAudit = onRefineAudit)
        .filter(col("cos") >= minCos)
        .select(col("query_id").as("id_a"), col("neighbor_id").as("id_b")))

  /** L28: cluster-balanced (diversity) sample — `perCluster` vectors from
    * EACH k-means cluster, the semantic analog of column-stratified
    * sampling: a uniform sample of a corpus with one dominant mode is
    * mostly that mode; sampling per CLUSTER covers the embedding space's
    * structure (the standard "diverse subset for eval / seed / curriculum"
    * move). Deterministic: members rank by `xxhash64(id)` (an unbiased
    * but reproducible pseudo-random order; ties to the id) — or by raw id
    * with `byHash = false` when an oracle needs to restate the choice.
    *
    * Scale shape: k-means' bounded exchanges + ONE [[graft.plans.TopK]]
    * heap pass — the exchange carries at most perCluster rows per cluster
    * per map partition, never a cluster's population; no sort, no window.
    * Output: the sampled rows with their `cluster` label.
    */
  def diverseSample(corpus: DataFrame, k: Int, iters: Int, perCluster: Int,
      idCol: String = "vec_id", vecCol: String = "v",
      byHash: Boolean = true, hashSeeds: Boolean = true): DataFrame = {
    require(perCluster >= 1, s"perCluster must be >= 1, got $perCluster")
    val cents = kmeansFit(corpus, k, iters, idCol, vecCol, hashSeeds)
    val assigned = kmeansAssign(corpus, cents, vecCol)
    val rank =
      if (byHash) Seq(xxhash64(col(idCol)).asc, col(idCol).asc)
      else Seq(col(idCol).asc)
    graft.plans.TopK.perKey(assigned, Seq("cluster"), rank, perCluster)
  }

  /** Planted-group derivation shared by the q_kmeans / q_semantic_dedup
    * oracles (the q_embed_neardup pattern: ground truth is constructed
    * in-query so DuckDB can state the expected outcome exactly): group
    * g = vec_id % 4, and dimension g of each unit vector gets +3. Measured
    * margins on the fixtures: within-group cosine <= 0.96, cross-group
    * <= 0.25 — clusters are unambiguous (Lloyd recovery is exact, immune
    * to cross-engine ulps) while same-group vectors stay far below any
    * near-dup threshold.
    */
  private[llm] def plantedGroups(emb: DataFrame): DataFrame = emb.select(
    col("vec_id"),
    (col("vec_id") % 4).cast("int").as("g"),
    transform(VectorOps.toDouble(col("embedding")),
      (x, i) => x + when(i === (col("vec_id") % 4).cast("int"), 3.0)
        .otherwise(0.0)).as("v"))

  val all: Seq[Q] = Seq(

    // ---- L20: distributed Lloyd k-means recovers the planted partition ---------
    // Oracle states the ground truth the clustering must recover: per
    // planted group, its size, with every cluster pure. Exact — the planted
    // separation makes the argmin decision immune to float drift.
    Q("q_kmeans", Some(
      """SELECT CAST(vec_id % 4 AS INT) AS g, count(*) AS n, true AS pure
        |FROM embeddings GROUP BY 1 ORDER BY g""".stripMargin),
      (s, d) => {
        val e = plantedGroups(Tables(s, d, "embeddings"))
        // id seeding pinned: the planted groups are laid out BY id
        // (g = vec_id % 4), so ids 0..3 are one seed per group — the
        // deterministic choice this fixture was built around
        val cents = kmeansFit(e, k = 4, iters = 3, hashSeeds = false)
        kmeansAssign(e, cents)
          .groupBy("cluster")
          .agg(min("g").as("g"), cnt.as("n"),
            (countDistinct("g") === 1).as("pure"))
          .select("g", "n", "pure")
          .orderBy("g")
      }),

    // ---- L21: k-NN graph — structural fact + mean-recall law vs exact ----------
    // The graph is built for EVERY vector (IVF probe + heap-plan ranking).
    // Exact structural fact: every vertex gets exactly k out-edges (the 12
    // probed cells always hold >= k candidates at these corpus sizes).
    // Recall law: over the vec_id < 50 audit set, MEAN recall@5 vs the
    // in-query exact brute force >= 0.8 — the standard ANN-graph contract
    // (per-query recall on isotropic data is binomial-noisy by nature;
    // q_ann_ivf keeps the per-query form on its 10-query probe set).
    Q("q_knn_graph", Some(
      """SELECT count(*) AS n_vertices, 5 * count(*) AS n_edges,
        |  true AS mean_recall_ok
        |FROM embeddings""".stripMargin),
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val graph = knnGraph(emb, k = 5, nCells = 16, nProbe = 12)
        val queries = emb.filter(col("vec_id") < 50)
        // ONE pass over the graph serves both laws: the tiny exact edge
        // set (50 x 5 rows) broadcasts onto the graph as a hit marker, and
        // a single aggregate reads off vertex count, edge count, and the
        // hit fraction — no snapshot, no second consumer
        val exactPairs = VectorOps.bruteForceTopK(emb, queries, 5)
          .select("query_id", "neighbor_id").withColumn("__hit", lit(1L))
        graph.join(broadcast(exactPairs), Seq("query_id", "neighbor_id"),
            "left")
          .agg(countDistinct("query_id").as("n_vertices"), cnt.as("n_edges"),
            (sum(coalesce(col("__hit"), lit(0L))) / lit(50.0 * 5))
              .as("mean_recall"))
          .select(col("n_vertices"), col("n_edges"),
            (col("mean_recall") >= 0.8).as("mean_recall_ok"))
      }),

    // ---- L27: semantic clusters = CC over the k-NN graph -----------------------
    // Planted ground truth: with the group derivation's separation, every
    // vector's top-8 neighbors at cos >= 0.5 are same-group, so the
    // components are EXACTLY the planted groups — and each component's id
    // is its lowest vec_id, i.e. ids 0..3 land one per group, so the
    // oracle can state cluster == g outright (a cross-group merge would
    // collapse two groups onto one id and mismatch; a split would break
    // single_component).
    Q("q_semantic_clusters", Some(
      """SELECT CAST(vec_id % 4 AS INT) AS g, count(*) AS n_members,
        |  true AS single_component,
        |  CAST(min(vec_id % 4) AS BIGINT) AS cluster
        |FROM embeddings GROUP BY 1 ORDER BY g""".stripMargin),
      (s, d) => {
        val corpus = plantedGroups(Tables(s, d, "embeddings"))
          .withColumnRenamed("v", "embedding")
        // nProbe 4 (not the isotropic default 8): the planted corpus is
        // strongly separated, so probed cells are group-pure and half the
        // probes already see every same-group neighbor
        semanticClusters(corpus, nProbe = 4)
          .join(corpus.select(col("vec_id").as("doc_id"), col("g")), "doc_id")
          .groupBy("g")
          .agg(cnt.as("n_members"),
            (countDistinct("cluster_id") === 1).as("single_component"),
            min("cluster_id").as("cluster"))
          .orderBy("g")
      }),

    // ---- L28: diversity sample — perCluster ids from each k-means cluster -------
    // Planted oracle: clusters recover the planted groups exactly (the
    // q_kmeans guarantee), so "5 lowest ids per cluster" IS "5 lowest ids
    // per planted group" — which DuckDB states with a row_number window.
    // byHash=false so both engines rank by the same key.
    Q("q_sample_diverse", Some(
      """SELECT CAST(vec_id % 4 AS INT) AS g, vec_id FROM (
        |  SELECT vec_id, row_number() OVER (
        |    PARTITION BY vec_id % 4 ORDER BY vec_id) AS rn
        |  FROM embeddings) WHERE rn <= 5
        |ORDER BY g, vec_id""".stripMargin),
      (s, d) => {
        val e = plantedGroups(Tables(s, d, "embeddings"))
        diverseSample(e, k = 4, iters = 3, perCluster = 5, byHash = false,
          hashSeeds = false) // planted-by-id fixture, see q_kmeans
          .select(col("g"), col("vec_id"))
          .orderBy("g", "vec_id")
      }),

    // ---- L22: SemDeDup — cluster, then within-cluster near-dup removal ---------
    // Planted ground truth: 25 copies (id + 100000, one dimension nudged by
    // 0.003 => cosine to the original >= 0.999999) must drop; all originals
    // (max natural pair cosine ~0.96 under the planted shift) must survive.
    // The oracle states exactly that, per planted group.
    Q("q_semantic_dedup", Some(
      """SELECT CAST(vec_id % 4 AS INT) AS g, count(*) AS n_kept,
        |  CAST(sum(CASE WHEN vec_id < 25 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped,
        |  true AS dropped_planted_only
        |FROM embeddings GROUP BY 1 ORDER BY g""".stripMargin),
      (s, d) => {
        val base = plantedGroups(Tables(s, d, "embeddings"))
        val copies = base.filter(col("vec_id") < 25).select(
          (col("vec_id") + 100000L).as("vec_id"), col("g"),
          transform(col("v"),
            (x, i) => x + when(i === pmod(col("vec_id"), lit(64)).cast("int"),
              0.003).otherwise(0.0)).as("v"))
        val corpus = base.unionByName(copies)
        semanticDedup(corpus, k = 4, iters = 3, cosThreshold = 0.99)
          .groupBy("g")
          .agg(
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
            sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
            (sum(when(!col("keep") && col("vec_id") < 100000L, 1L)
              .otherwise(0L)) === 0L).as("dropped_planted_only"))
          .orderBy("g")
      })
  )
}
