package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import graft.Q
import graft.functions.GraftFunctions
import graft.query.Tables
import graft.query.Tables.cnt

/** Similarity search + hashing-based near-dup detection over embedding and
  * text columns (SURVEY.md §2.11 L2/L3/L4).
  *
  * Two tiers, matching the 100 TB design stance:
  *  - exact brute-force cosine top-k: correct baseline + the verifier; cross
  *    join is bounded by a small query set, so it is a broadcast of the
  *    queries against a single scan of the corpus — O(|corpus| x |queries|)
  *    with no shuffle of the corpus;
  *  - LSH-bucketed variants (MinHash for Jaccard, random-projection for
  *    cosine/L2): candidate generation via bucket join — the only pairs ever
  *    materialized share a bucket, so cost tracks true-neighbor density, not
  *    |corpus|^2.
  */
object VectorOps {

  /** Elementwise float→double, so arithmetic is double everywhere (matches
    * the oracle, avoids float32 summation drift).
    */
  def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Dot product — native codegen'd Expression (tight primitive loop; the
    * higher-order `aggregate(zip_with(...))` form is interpreted per call
    * and allocates, which dominates LSH verify stages).
    */
  def dot(a: Column, b: Column): Column = GraftFunctions.dotNative(a, b)

  def l2norm(a: Column): Column = sqrt(GraftFunctions.dotNative(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** L3 baseline: exact top-k cosine neighbors for each query vector.
    * `queries` must be small (broadcast side).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      toDouble(col("embedding")).as("qv"))
    val t = corpus.select(col("vec_id").as("neighbor_id"),
      toDouble(col("embedding")).as("tv"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    t.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("tv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** L2 scale path: banded MinHash LSH in pure column expressions — the
    * Spark-first form of the classic shingle → minhash → band → bucket-join
    * pipeline (no MLlib, no RDDs, everything codegen'd).
    *
    * Per doc: 64 minhash permutations (`xxhash64(shingle, seed)` min-fold),
    * grouped into `b` bands of `r` rows. Two docs become a candidate pair
    * iff at least one band hashes identically — AND-amplification within a
    * band, OR across bands, so P(candidate) = 1-(1-s^r)^b: steep around the
    * similarity threshold, near-zero for dissimilar pairs (the MLlib
    * MinHashLSH join is OR-only across tables and floods candidates).
    * Candidates then verify with EXACT Jaccard on their shingle sets.
    *
    * Default banding is 16 bands x 4 rows (same 64 permutations): recall at
    * j=0.8 is 1 - 2e-4 vs 0.77 for 8x8 — the driver fixture's true pairs
    * all sit at j >= 0.8, so the emitted pair set EQUALS the exact all-pairs
    * ground truth and the q_dedup_* oracles can be real DuckDB brute-force
    * twins. The cost: dissimilar pairs (j <= 0.3) become candidates at ~12%
    * instead of ~0.5% — they are discarded by the verify stage.
    *
    * At 100 TB: the only shuffles are (band_idx, band_hash) — a few longs
    * per doc — and the candidate-pair joins back to shingle-hash sets; no
    * all-pairs stage anywhere. `maxBucket` is the skew guard for hot
    * buckets (see [[bucketPairs]]).
    */
  def minhashPairsNative(docs: DataFrame, threshold: Double,
      nBands: Int = 16, rowsPerBand: Int = 4,
      exactVerify: Boolean = false, maxBucket: Int = 0): DataFrame = {
    val sig = minhashSigPlan(docs, nBands * rowsPerBand)
    sig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // EAGER: banding + the two verify joins branch off `sig` as independent
    // stages AQE runs concurrently; a lazy cache lets them race and each
    // re-runs the shingle + 64-permutation pass (see cosinePairsNative).
    sig.count()
    // verify is constructed AFTER the count so Reattach.adaptive reads the
    // REAL cached signature size: broadcast re-attach under the threshold
    // (fixture scale — candidates never exchange), shuffle-hash floor above
    val verified = minhashVerifyPlan(sig, threshold, nBands, rowsPerBand,
      exactVerify, maxBucket, graft.plans.Reattach.adaptive)
    // the pair set is bounded by true-neighbor density — materialize it and
    // release the per-invocation caches (no block leak across calls)
    val out = verified.localCheckpoint()
    sig.unpersist()
    out
  }

  /** `hs` = per-doc distinct 64-bit shingle hashes. The nPerm permutations
    * re-hash these 8-byte longs, never the text — and the exact verify
    * intersects them too (Jaccard over distinct hash sets == Jaccard over
    * shingle-string sets modulo 2^-64 collisions; q_ngram_jaccard proves
    * the parity against DuckDB's string-built sets). Shingle strings are
    * never materialized on any path. Shingling + signing is ONE codegen'd
    * map stage (native ShingleHashes + MinHashSig); the one persist is the
    * plan-branch barrier in the public entry.
    */
  private[llm] def minhashSigPlan(docs: DataFrame, nPerm: Int): DataFrame =
    TextOps.shingleHashes(docs, Seq("doc_id"), 3)
      .select(col("doc_id"), col("hs"), sigColumn(col("hs"), nPerm).as("sig"))

  private[llm] def minhashVerifyPlan(sig: DataFrame, threshold: Double,
      nBands: Int, rowsPerBand: Int, exactVerify: Boolean, maxBucket: Int,
      reattach: DataFrame => DataFrame): DataFrame = {
    val nPerm = nBands * rowsPerBand
    val bands = minhashBands(sig.select("doc_id", "sig"), nBands, rowsPerBand)
    val candidates = bucketPairs(bands, maxBucket)
    // Verify candidates. Default: signature-estimate Jaccard (fraction of
    // agreeing minhash components) — candidate cost is 64 long compares,
    // independent of document size, which is what survives when near-dup
    // clusters are large (all-pairs-within-bucket is quadratic in cluster
    // size; the per-pair constant must be tiny). exactVerify joins back to
    // the shingle-hash sets for true Jaccard — the high-precision last pass.
    // Verify re-attach joins take the size-adaptive build-side strategy
    // ([[graft.plans.Reattach]]): the candidate stream is the largest
    // frame in the build, and a sort-merge join would SORT it (the
    // round-8 x100 knnGraph probe filled the disk with exactly that
    // sort's spill once attached payloads widened the rows). Broadcast
    // (small, proven build side) and hash re-attach both stream the
    // candidates without ever sorting them.
    if (exactVerify)
      candidates
        .join(reattach(
          sig.select(col("doc_id").as("id_a"), col("hs").as("hs_a"))), "id_a")
        .join(reattach(
          sig.select(col("doc_id").as("id_b"), col("hs").as("hs_b"))), "id_b")
        .select(col("id_a"), col("id_b"),
          round(TextOps.jaccard(col("hs_a"), col("hs_b")), 4).as("jaccard"))
        .filter(col("jaccard") >= threshold)
    else
      candidates
        .join(reattach(
          sig.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))), "id_a")
        .join(reattach(
          sig.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))), "id_b")
        .select(col("id_a"), col("id_b"),
          round(sigJaccard(col("sig_a"), col("sig_b"), nPerm), 4)
            .as("jaccard"))
        .filter(col("jaccard") >= threshold)
  }

  // ---- L2 incremental: near-dup state as a STORED signature table ----------
  // The production dedup tick is "new batch vs. all of history". Re-running
  // the self-join LSH over history every tick re-shingles the whole corpus;
  // the incremental contract instead materializes per-doc MinHash
  // signatures ONCE (64 longs/doc — the only state history contributes) and
  // each tick (a) signs just its own rows, (b) band-joins against the
  // stored signatures, (c) appends the survivors' signatures. History text
  // is never touched again.

  /** The nPerm derived-permutation minhash signature of a shingle-hash
    * array — THE signature definition: [[minhashPairsNative]] and
    * [[minhashSignatures]] both build from this one expression, so stored
    * signature state can never drift from the self-join path.
    *
    * Native codegen'd single pass ([[graft.functions.MinHashSig]]);
    * value-identical to the HOF form `transform(sequence(0, nPerm-1), i =>
    * array_min(transform(hs, h => xxhash64(h, i))))` it replaced — the
    * SignatureExpressionsSpec drift guard pins the equality, which is what
    * keeps signatures stored by earlier code readable forever.
    */
  private[llm] def sigColumn(hs: Column, nPerm: Int): Column =
    graft.functions.GraftFunctions.minhashSigNative(hs, nPerm)

  /** Per-doc MinHash signature table — the unit of incremental near-dup
    * state, meant to be persisted via `TableStore.append`. Shingle + sign
    * is one native codegen'd map stage end-to-end (no barrier persists —
    * see [[TextOps.shingleHashes]]); the checkpoint materializes the
    * bounded signature table itself.
    */
  def minhashSignatures(docs: DataFrame, nBands: Int = 16,
      rowsPerBand: Int = 4): DataFrame = {
    val nPerm = nBands * rowsPerBand
    TextOps.shingleHashes(docs, Seq("doc_id"), 3)
      .select(col("doc_id"), sigColumn(col("hs"), nPerm).as("sig"))
      .localCheckpoint()
  }

  /** Banded LSH rows (doc_id, band_idx, band_hash) from a signature table. */
  def minhashBands(sigs: DataFrame, nBands: Int = 16,
      rowsPerBand: Int = 4): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(nBands - 1)),
        j => xxhash64(
          slice(col("sig"), j * rowsPerBand + 1, lit(rowsPerBand)), j))))
      .toDF("doc_id", "band_idx", "band_hash")

  /** Signature-estimate Jaccard: fraction of agreeing minhash components. */
  private def sigJaccard(a: Column, b: Column, nPerm: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / nPerm

  /** Near-dup pairs of NEW signatures against BASE signatures (cross, not
    * self): band-bucket join on (band_idx, band_hash), then the estimate
    * verify. Both shuffles carry longs; history contributes only its
    * signature table. Output: (id_new, id_base, jaccard >= threshold).
    *
    * `maxBucket > 0` caps the HISTORY side of each band bucket at its
    * `maxBucket` lowest ids — the cross-join analog of [[bucketPairs]]'
    * star capping. A boilerplate family that floods one history bucket is
    * represented by near-dups of the whole family, so a new doc landing
    * there still verifies against representatives while the candidate
    * fan-out stays ≤ maxBucket × the batch's band rows (instead of
    * |bucket| × batch — the 10^12-pair blow-up).
    */
  def minhashPairsAgainst(newSigs: DataFrame, baseSigs: DataFrame,
      threshold: Double, nBands: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 0,
      reattach: DataFrame => DataFrame = graft.plans.Reattach.adaptive)
      : DataFrame = {
    val nPerm = nBands * rowsPerBand
    val nb = minhashBands(newSigs, nBands, rowsPerBand)
      .withColumnRenamed("doc_id", "id_new")
    val bb0 = minhashBands(baseSigs, nBands, rowsPerBand)
      .withColumnRenamed("doc_id", "id_base")
    val bb =
      if (maxBucket <= 0) bb0
      else bb0
        .withColumn("_rn", row_number().over(Window
          .partitionBy("band_idx", "band_hash").orderBy("id_base")))
        .filter(col("_rn") <= maxBucket).drop("_rn")
    val cand = nb.join(bb, Seq("band_idx", "band_hash"))
      .select("id_new", "id_base").distinct()
    cand
      .join(reattach(newSigs
        .select(col("doc_id").as("id_new"), col("sig").as("sig_a"))), "id_new")
      .join(reattach(baseSigs
        .select(col("doc_id").as("id_base"), col("sig").as("sig_b"))), "id_base")
      .select(col("id_new"), col("id_base"),
        round(sigJaccard(col("sig_a"), col("sig_b"), nPerm), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Self-join near-dup pairs from a signature table (same contract as
    * [[minhashPairsNative]]'s estimate path, starting from stored
    * signatures instead of text).
    */
  def minhashPairsFromSigs(sigs: DataFrame, threshold: Double,
      nBands: Int = 16, rowsPerBand: Int = 4, maxBucket: Int = 0,
      reattach: DataFrame => DataFrame = graft.plans.Reattach.adaptive)
      : DataFrame = {
    val nPerm = nBands * rowsPerBand
    val candidates =
      bucketPairs(minhashBands(sigs, nBands, rowsPerBand), maxBucket)
    candidates
      .join(reattach(sigs
        .select(col("doc_id").as("id_a"), col("sig").as("sig_a"))), "id_a")
      .join(reattach(sigs
        .select(col("doc_id").as("id_b"), col("sig").as("sig_b"))), "id_b")
      .select(col("id_a"), col("id_b"),
        round(sigJaccard(col("sig_a"), col("sig_b"), nPerm), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** The incremental dedup tick: keep the subset of `newDocs` that
    * near-duplicates neither history (via `baseSigs`) nor an earlier doc of
    * its own batch. Returns (kept docs, their signatures) — append the
    * signatures to the store and history is up to date for the next tick.
    * Policy: base hits drop first; remaining in-batch pairs resolve by
    * connected components keeping the min id ([[TextOps.dedupClusters]]).
    */
  def dedupIncrement(newDocs: DataFrame, baseSigs: DataFrame,
      threshold: Double = 0.5, nBands: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 0): (DataFrame, DataFrame) = {
    val newSigs = minhashSignatures(newDocs, nBands, rowsPerBand)
    // materialized: referenced by both afterBase and the final anti-join —
    // without the checkpoint the full history band-join re-executes
    val baseHits = minhashPairsAgainst(newSigs, baseSigs, threshold,
        nBands, rowsPerBand, maxBucket)
      .select(col("id_new").as("doc_id")).distinct()
      .localCheckpoint()
    val afterBase = newSigs.join(baseHits, Seq("doc_id"), "left_anti")
      .localCheckpoint()
    val internal = minhashPairsFromSigs(afterBase, threshold,
      nBands, rowsPerBand, maxBucket)
    val clusterDrops = TextOps.dedupClusters(internal)
      .filter(!col("keep")).select("doc_id")
    // anti-join the DROP set (not join the kept-signature set): a doc too
    // short to shingle has no signature, can near-dup nothing, and must be
    // KEPT — it just contributes no state for future ticks
    val dropped = baseHits.union(clusterDrops)
    val keptDocs = newDocs.join(dropped, Seq("doc_id"), "left_anti")
    val keptSigs = afterBase.join(clusterDrops, Seq("doc_id"), "left_anti")
    (keptDocs, keptSigs)
  }

  /** L3 scale path: approximate cosine ANN via random-projection LSH on
    * unit-normalized vectors (Euclidean distance on the unit sphere is a
    * monotone transform of cosine: d^2 = 2(1 - cos)).
    */
  private def unitFeatures(df: DataFrame): DataFrame = {
    val v = toDouble(col("embedding"))
    val n = l2norm(v)
    // the norm rides in as a zip_with ARGUMENT (array_repeat), evaluated
    // once per row — captured inside a transform lambda it would
    // re-evaluate per ELEMENT, the O(dim^2) HOF trap this module documents.
    // Zero-norm vectors have no direction and would turn into all-null
    // arrays that crash array_to_vector: skip them (one bad row must not
    // fail the job).
    df.filter(n > 0).select(col("vec_id"),
      array_to_vector(zip_with(v, array_repeat(n, size(v)),
        (x, d) => x / d)).as("features"))
  }

  private def brpLsh = new BucketedRandomProjectionLSH()
    .setInputCol("features").setOutputCol("hashes")
    .setBucketLength(0.5).setNumHashTables(4).setSeed(42L)

  def annCosine(corpus: DataFrame, queries: DataFrame, cosThreshold: Double)
      : DataFrame = {
    val corpusU = unitFeatures(corpus)
    val model = brpLsh.fit(corpusU)
    // pre-hash + persist the corpus side once; the (small) query side is
    // hashed on its own — don't pay the full corpus transform twice.
    val corpusH = model.transform(corpusU)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = model.approxSimilarityJoin(
        model.transform(unitFeatures(queries)), corpusH,
        math.sqrt(2.0 * (1.0 - cosThreshold)), "dist")
      .select(
        col("datasetA.vec_id").as("query_id"),
        col("datasetB.vec_id").as("neighbor_id"),
        round(lit(1.0) - col("dist") * col("dist") / 2.0, 4).as("est_cos"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .localCheckpoint()
    corpusH.unpersist()
    out
  }

  private def normalize(c: Seq[Double]): Seq[Double] = {
    val n = math.sqrt(c.map(x => x * x).sum)
    if (n == 0.0) c else c.map(_ / n)
  }

  /** Candidate pairs from banded LSH buckets, with a skew guard. Buckets at
    * or under `maxBucket` emit all pairs (id_a < id_b). Oversized buckets —
    * the LSH hot-key case: one boilerplate template repeated a million times
    * turns a single bucket into 10^12 all-pairs candidates — emit STAR pairs
    * instead: every member against the bucket's minimum id. Linear cost, and
    * every hot-cluster member still reaches the verify and
    * cluster-resolution stages through the representative. (Dropping the
    * whole bucket would silently lose every near-but-not-byte-exact
    * duplicate in it — only byte-identical copies are saved by the L1 exact
    * pass.) The count/min window shuffles on the same (band_idx, band_hash)
    * key the self-join needs, so the exchange is reused.
    * `maxBucket <= 0` disables the cap.
    */
  private def bucketPairs(bands: DataFrame, maxBucket: Int): DataFrame = {
    val id = bands.columns.head
    def allPairs(df: DataFrame): DataFrame = df.as("a").join(df.as("b"),
      col("a.band_idx") === col("b.band_idx") &&
        col("a.band_hash") === col("b.band_hash") &&
        col(s"a.$id") < col(s"b.$id"))
      .select(col(s"a.$id").as("id_a"), col(s"b.$id").as("id_b"))
    val pairs =
      if (maxBucket <= 0) allPairs(bands)
      else {
        val w = Window.partitionBy("band_idx", "band_hash")
        val stats = bands
          .withColumn("_bn", count(lit(1)).over(w))
          .withColumn("_rep", min(col(id)).over(w))
        val small = stats.filter(col("_bn") <= maxBucket).drop("_bn", "_rep")
        val star = stats
          .filter(col("_bn") > maxBucket && col(id) =!= col("_rep"))
          .select(col("_rep").as("id_a"), col(id).as("id_b"))
        allPairs(small).union(star)
      }
    pairs.distinct()
  }

  /** Spherical-k-means training for the IVF coarse quantizer, the FAISS
    * shape: pull a bounded deterministic sample (lowest `trainSample` ids —
    * a TakeOrdered, never a full sort), run Lloyd iterations ON THE DRIVER
    * over that sample, return K unit centroids to broadcast. One Spark job
    * total regardless of `iters`; the corpus is scanned in full only by the
    * actual assignment/query, never by training. K×dim doubles of state.
    *
    * Deterministic: fixed sample, fixed iteration order, ties broken toward
    * the lowest cell index. Empty cells keep their previous centroid.
    */
  def ivfCentroids(corpus: DataFrame, nCells: Int, iters: Int,
      trainSample: Int = 4096): Array[(Int, Seq[Double])] = {
    // hash-spread, deterministic training sample (see kmeansFit's seeding
    // note: a lowest-id sample concentrates in one region whenever id
    // order correlates with content, skewing every cell population)
    val train: Array[Array[Double]] = corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(math.max(trainSample, nCells))
      .select(transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(_.getSeq[Double](0).toArray)
    var cents: Array[Array[Double]] =
      train.take(nCells).map(v => normalize(v.toSeq).toArray)
    val k = cents.length
    def argmax(v: Array[Double]): Int = {
      var best = 0; var bestD = Double.NegativeInfinity
      var i = 0
      while (i < k) {
        var d = 0.0; var j = 0
        val c = cents(i)
        val m = math.min(v.length, c.length)
        while (j < m) { d += v(j) * c(j); j += 1 }
        if (d > bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    for (_ <- 1 to iters) {
      val dim = train.headOption.map(_.length).getOrElse(0)
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      train.foreach { v =>
        val c = argmax(v)
        counts(c) += 1
        var j = 0
        val m = math.min(v.length, dim)
        while (j < m) { sums(c)(j) += v(j); j += 1 }
      }
      cents = Array.tabulate(k)(i =>
        if (counts(i) == 0) cents(i) else normalize(sums(i).toSeq).toArray)
    }
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }
  }

  /** IVF-style ANN: partition the corpus into `nCells` Voronoi cells around
    * k-means-trained centroids, probe the `nProbe` nearest cells per query,
    * rank exactly within the probed cells.
    *
    * Centroids seed from the lowest-id vectors (deterministic) and refine
    * with `kmeansIters` spherical-Lloyd passes ([[ivfCentroids]]), then are
    * collected to the driver — K centroids are always driver-resident in
    * IVF, that IS the design: assignment is then a per-row argmax over K
    * literal dot products, a narrow codegen'd map with NO shuffle and NO
    * join for the corpus side. The only shuffle is the (cell ⋈ probed-cell)
    * candidate join + the per-query top-k window.
    *
    * At 100 TB: cells play the role of LSH bands with controllable fan-out
    * — recall is tuned by nProbe, cost by nCells, both independent of
    * corpus size; training touches only the bounded sample (one TakeOrdered
    * job), so the full corpus is scanned exactly once, by the assignment.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, nProbe: Int = 2, kmeansIters: Int = 2): DataFrame =
    ivfQuery(buildIvfIndex(corpus, nCells, kmeansIters), queries, k, nProbe)

  /** A built IVF index: driver-resident centroids + the corpus assignment
    * table (neighbor_id, tv: double vector, cell). Production shape is
    * build-once-query-many: [[writeIvfIndex]] persists `assignments`
    * PARTITIONED BY cell, so a query batch's probed cells reach the
    * parquet scan as partition filters and the unprobed corpus is never
    * read.
    */
  final case class IvfIndex(
      centroids: Seq[(Int, Seq[Double])], assignments: DataFrame)

  // centroid set → (flat matrix, dim) for the native assignment kernels;
  // the composed form this replaces (array_max over K literal-dot structs)
  // is quadratic-in-K plan text that falls out of codegen as K grows —
  // see graft.functions.CentroidExpressions and Clustering.clusterOf
  private def flatCents(cents: Seq[(Int, Seq[Double])]): (Seq[Double], Int) = {
    val ordered = cents.sortBy(_._1)
    (ordered.flatMap(_._2), ordered.head._2.length)
  }

  /** Train centroids on the bounded sample, then scan the corpus ONCE for
    * the per-row argmax cell assignment (native single-node codegen'd map —
    * no shuffle, no join; [[graft.functions.NearestCentroid]]).
    */
  def buildIvfIndex(corpus: DataFrame, nCells: Int = 16,
      kmeansIters: Int = 2): IvfIndex = {
    val cents = ivfCentroids(corpus, nCells, kmeansIters).toIndexedSeq
    val (flat, dim) = flatCents(cents)
    val v = toDouble(col("embedding"))
    val assigned = corpus.select(col("vec_id").as("neighbor_id"), v.as("tv"),
      graft.functions.GraftFunctions
        .nearestCentroid(v, flat, dim, euclidean = false).as("cell"))
    IvfIndex(cents, assigned)
  }

  /** Probe the `nProbe` nearest cells per query against a built (possibly
    * store-loaded) index; rank exactly within the probed cells.
    */
  def ivfQuery(index: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int = 2): DataFrame = {
    val (flat, dim) = flatCents(index.centroids)
    val v = toDouble(col("embedding"))
    val probed = queries.select(col("vec_id").as("query_id"), v.as("qv"),
      explode(graft.functions.GraftFunctions
        .topCentroids(v, flat, dim, nProbe, euclidean = false)).as("cell"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), asc("neighbor_id"))
    probed.join(index.assignments, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosine(col("qv"), col("tv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }

  /** Persist an index: assignments partitioned by cell (probing = partition
    * pruning), centroids as one tiny parquet. A rebuild over an existing
    * index overwrites both.
    */
  def writeIvfIndex(index: IvfIndex, dir: String): Unit = {
    import index.assignments.sparkSession.implicits._
    index.assignments.write.mode("overwrite").partitionBy("cell")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(s"$dir/assignments")
    index.centroids.toDF("cell", "centroid")
      .coalesce(1).write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(s"$dir/centroids")
  }

  def readIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex = {
    import spark.implicits._
    val cents = spark.read.parquet(s"$dir/centroids")
      .as[(Int, Seq[Double])].collect().toSeq.sortBy(_._1)
    // normalize the partition column's position/type back to the built shape
    val assigned = spark.read.parquet(s"$dir/assignments")
      .select(col("neighbor_id"), col("tv"), col("cell").cast("int").as("cell"))
    IvfIndex(cents, assigned)
  }

  /** L18+: incremental maintenance of a stored IVF index — add a vector
    * batch WITHOUT rebuild, the FAISS add-to-trained-index contract:
    * centroids stay fixed, the batch is assigned in ONE scan with the
    * stored centroids and lands `mode("append")` into the cell partitions,
    * so probes keep reaching the parquet scan as partition filters over old
    * and new files alike. With centroids held fixed, query results after an
    * append EQUAL a from-scratch assignment of the union (law-tested) —
    * recall drifts only as the DATA drifts from the trained quantizer,
    * which is the caller's retrain trigger (rebuild + writeIvfIndex).
    * Delivery semantics are the caller's: appending the same batch twice
    * duplicates it (wrap in the TableStore tick markers for exactly-once).
    */
  def ivfAppend(spark: org.apache.spark.sql.SparkSession, dir: String,
      newVectors: DataFrame): Unit = {
    val idx = readIvfIndex(spark, dir)
    val (flat, dim) = flatCents(idx.centroids)
    val v = toDouble(col("embedding"))
    // new files in existing cell dirs — additive, so in-flight readers are
    // unaffected
    newVectors.select(col("vec_id").as("neighbor_id"), v.as("tv"),
      graft.functions.GraftFunctions
        .nearestCentroid(v, flat, dim, euclidean = false).as("cell"))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/assignments")
  }

  /** Native signed-random-projection LSH for cosine near-dup pairs — pure
    * column expressions, same banded candidate pattern as
    * [[minhashPairsNative]].
    *
    * Hyperplanes are derived deterministically: component k of hyperplane j
    * is a SplitMix64 finalizer over (j, k) scaled to [-1, 1] (no RNG state
    * to ship; every executor re-derives the same planes —
    * [[graft.functions.SignBandKeys.planeComponent]]).
    * A vector's signature bit j = sign of its dot with plane j; two vectors
    * at angle θ disagree on a bit with probability θ/π. Bits are grouped
    * into bands (AND within, OR across) for candidate generation, then
    * candidates verify with EXACT cosine — so precision is exact; LSH only
    * bounds recall/cost.
    *
    * Banding is 8 bands x 8 bits: measured against 8x12/8x16/16x12 on the
    * fixture, the per-bit projection cost outweighs the candidate savings
    * at this corpus size (the verify dot is codegen'd and cheap). Bits per
    * band should grow ~log2(corpus/bucket-target) as the corpus grows —
    * more vectors need more buckets per band; `maxBucket` star-caps
    * whatever still collides.
    *
    * At 100 TB: per row the corpus ships (id, a few band longs) into the
    * bucket shuffle; embeddings are touched again only for candidate pairs.
    */
  def cosinePairsNative(corpus: DataFrame, cosThreshold: Double,
      nBands: Int = 8, bitsPerBand: Int = 8, dim: Int = 0,
      maxBucket: Int = 0): DataFrame = {
    val (withSig, lazyVerified) =
      cosinePairsPlan(corpus, cosThreshold, nBands, bitsPerBand, dim,
        maxBucket)
    withSig.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // EAGER materialization before the plan branches: the banding stage and
    // both verify joins are independent stages that AQE runs concurrently,
    // and a lazy cache lets them race — each recomputes the parquet scan
    // and the sign projections before the first cache write lands
    // (measured as doubled input bytes round 4). One count populates the
    // cache once.
    withSig.count()
    // rebuilt AFTER the count so Reattach.adaptive reads the real cached
    // size (broadcast under threshold, shuffle-hash floor above); the
    // degenerate empty-corpus plan has no signature column to re-verify
    val verified =
      if (!withSig.columns.contains("keys")) lazyVerified
      else cosineVerifyPlan(withSig, cosThreshold, maxBucket,
        graft.plans.Reattach.adaptive)
    // bounded pair output — materialize, then release per-invocation caches
    val out = verified.localCheckpoint()
    withSig.unpersist()
    out
  }

  /** The LAZY plan of [[cosinePairsNative]] — `(withSig, verified)` minus
    * the cache/checkpoint barriers, for FanoutSortLintSpec's standing
    * no-sort-over-the-candidate-stream assertion.
    */
  private[graft] def cosinePairsPlan(corpus: DataFrame, cosThreshold: Double,
      nBands: Int, bitsPerBand: Int, dim: Int,
      maxBucket: Int): (DataFrame, DataFrame) = {
    // hyperplanes must span the full embedding width: hashing only a prefix
    // silently degrades recall (the exact-cosine verify would hide it), so
    // when the caller doesn't pass `dim`, probe one row for the true width
    val d = if (dim > 0) dim else {
      val first = corpus.filter(col("embedding").isNotNull)
        .select(size(col("embedding")).as("d")).limit(1).collect()
      if (first.isEmpty) {
        val empty = corpus.select(col("vec_id").as("id_a"),
          col("vec_id").as("id_b"), lit(0.0).as("cos")).where(lit(false))
        return (empty.select(col("id_a").as("vec_id")), empty)
      }
      first(0).getInt(0)
    }
    // signature + banding in ONE native expression (SignBandKeys): all
    // nBits sign projections and the per-band bit packing happen in a
    // single codegen'd loop per row. Three generations of this stage were
    // measured: per-component Literal nodes (4096 of them — ~1 s of Janino
    // per invocation), one shared typedLit with 64 native-dot subtrees
    // (smaller but still a 64-subtree plan whose codegen + JIT warm-up
    // dominated the query's bench time), and this form — one tree node,
    // trivially compiled, and the fastest per row at any scale.
    val vDf = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val withSig = vDf
      .select(col("vec_id"), col("v"),
        graft.functions.GraftFunctions
          .signBandKeys(col("v"), nBands, bitsPerBand, d).as("keys"))
    (withSig, cosineVerifyPlan(withSig, cosThreshold, maxBucket,
      graft.plans.Reattach.shuffleHash))
  }

  private def cosineVerifyPlan(withSig: DataFrame, cosThreshold: Double,
      maxBucket: Int, reattach: DataFrame => DataFrame): DataFrame = {
    // band key position IS the band index: (pos, key) ≡ (band_idx, band_hash)
    val bands = withSig.select(col("vec_id"), posexplode(col("keys")))
      .toDF("vec_id", "band_idx", "band_hash")
    val candidates = bucketPairs(bands, maxBucket)
    // exact-cosine verify: three codegen'd dots per candidate pair (dot +
    // two norms) — cost scales with candidate count only, never corpus
    // size. Build sides ride the size-adaptive re-attach strategy
    // ([[graft.plans.Reattach]] — never a sort over the candidate stream).
    candidates
      .join(reattach(
        withSig.select(col("vec_id").as("id_a"), col("v").as("va"))), "id_a")
      .join(reattach(
        withSig.select(col("vec_id").as("id_b"), col("v").as("vb"))), "id_b")
      .select(col("id_a"), col("id_b"),
        round(cosine(col("va"), col("vb")), 4).as("cos"))
      .filter(col("cos") >= cosThreshold)
  }

  /** L9s: semantic eval-set decontamination — the embedding-space
    * complement of the exact/n-gram sweeps: a corpus doc whose embedding
    * sits within `cosThreshold` of ANY eval embedding is a paraphrase-level
    * leak that no token-overlap test can see. Returns (idCol, eval_id)
    * for every contaminated corpus row, eval_id = its nearest eval doc.
    *
    * Scale shape: the eval set COLLECTS to the driver (bounded by the
    * decontaminate contract — eval suites are MBs; same documented bound
    * as the IVF centroid sample), becomes one flat unit matrix inside a
    * single [[graft.functions.BestCentroid]] kernel, and the corpus side
    * is ONE map-only pass: row-local normalize → argbest-cosine WITH its
    * score in one codegen'd loop (constant code size in |eval|) → a
    * threshold filter on the emitted dot → the winning eval id resolved
    * from a small literal array. No join at all — a broadcast idx-join
    * variant measured ~2 s of fixed per-invocation overhead at bench
    * scale for the same answer. Nothing shuffles; at 100 TB this is a
    * pure scan. For an eval set too large to hold per-executor, route
    * through [[cosinePairsNative]] (banded sign-LSH) instead.
    */
  def semanticContaminationPairs(corpus: DataFrame, evalSet: DataFrame,
      cosThreshold: Double, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val ev = evalSet.select(col(idCol).cast("long"), toDouble(col(vecCol)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(ev.nonEmpty, "semantic decontamination needs a non-empty eval set")
    val dim = ev.head._2.length
    val units = ev.map { case (_, v) =>
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => if (n > 0) x / n else 0.0)
    }
    // the kernel runs on the RAW double vector and the row norm divides
    // the emitted dot AFTERWARDS (r12): argmax over dot(v, c)/||v|| is the
    // argmax over dot(v, c) — scaling by a positive per-row constant
    // preserves the order and the tie policy — so the per-row interpreted
    // `transform(x => x / n)` HOF (64 lambda calls + an array allocation
    // per row, outside whole-stage codegen) is unnecessary; only the
    // threshold compare needs the true cosine, one division per row.
    corpus
      .withColumn("__vd", toDouble(col(vecCol)))
      .withColumn("__n", l2norm(col("__vd")))
      .filter(col("__n") > 0) // a zero vector has no direction, no cosine
      .withColumn("__bc", GraftFunctions.bestCentroid(
        col("__vd"), units.flatten.toSeq, dim))
      .filter(col("__bc.dot") / col("__n") >= cosThreshold)
      .select(col(idCol),
        element_at(lit(ev.map(_._1)), col("__bc.idx") + 1).as("eval_id"))
  }

  /** L33: deterministic negative sampling for contrastive training — per
    * anchor, `k` corpus vectors that are (a) NOT semantically close
    * (exact cosine < `maxCos`, so accidental positives never become
    * negatives — the false-negative poison in contrastive objectives) and
    * (b) chosen by a DETERMINISTIC per-(anchor, candidate) hash priority,
    * no RNG: re-runs, backfills, and resumed jobs draw the SAME
    * negatives, and so does the DuckDB oracle (the `q_train_test_split`
    * arithmetic-hash stance — production callers swap in `xxhash64` with
    * identical structure).
    *
    * Scale shape: anchors are a bounded broadcast batch; ONE corpus scan
    * joins them (corpus never shuffles), the codegen'd dot prunes
    * near-duplicates, and the bounded heap plan keeps k rows per anchor —
    * exchange capped at k·anchors·partitions, never corpus-sized.
    */
  def negativeSample(corpus: DataFrame, anchors: DataFrame, k: Int,
      maxCos: Double = 0.3): DataFrame = {
    require(k >= 1, s"need k >= 1 negatives, got $k")
    val a = anchors.select(col("vec_id").as("anchor_id"),
      toDouble(col("embedding")).as("av"))
    val t = corpus.select(col("vec_id").as("neighbor_id"),
      toDouble(col("embedding")).as("tv"))
    // ids reduced mod 1000003 BEFORE the multiply: ANSI mode makes int64
    // overflow an ERROR, and `id * 131` would throw for ids near
    // Long.Max/131; the reduced form's intermediate tops out at ~1.3e8
    val priority = ((col("anchor_id") % 1000003L) * 131L
      + col("neighbor_id") % 1000003L) % 1000003L * 31L % 1000003L
    val cand = t.join(broadcast(a), col("anchor_id") =!= col("neighbor_id"))
      .filter(cosine(col("av"), col("tv")) < maxCos)
      .select(col("anchor_id"), col("neighbor_id"), priority.as("priority"))
    graft.plans.TopK.perKey(cand, Seq("anchor_id"),
      Seq(col("priority").asc, col("neighbor_id").asc), k)
  }

  val all: Seq[Q] = Seq(

    // ---- L33: deterministic contrastive negative sampling ----------------------
    // The oracle is the full restatement: exact cosine in SQL (the
    // q_ann_* list arithmetic), the same integer hash priority, the same
    // (priority, id) top-k per anchor — hash equality pins selection,
    // exclusion, and tie policy bit for bit.
    Q("q_negative_sample", Some(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |a AS (SELECT vec_id, v FROM e WHERE vec_id < 8),
        |p AS (
        |  SELECT a.vec_id AS anchor_id, t.vec_id AS neighbor_id,
        |    ((a.vec_id % 1000003) * 131 + t.vec_id % 1000003)
        |      % 1000003 * 31 % 1000003 AS priority,
        |    list_sum(list_transform(generate_series(1, 64), i -> a.v[i] * t.v[i]))
        |    / (sqrt(list_sum(list_transform(a.v, x -> x * x)))
        |       * sqrt(list_sum(list_transform(t.v, x -> x * x)))) AS cos
        |  FROM a, e t WHERE a.vec_id <> t.vec_id),
        |r AS (SELECT anchor_id, neighbor_id, priority, row_number() OVER (
        |        PARTITION BY anchor_id ORDER BY priority, neighbor_id) AS rn
        |      FROM p WHERE cos < 0.3)
        |SELECT anchor_id, neighbor_id, priority FROM r WHERE rn <= 16
        |ORDER BY anchor_id, priority, neighbor_id""".stripMargin),
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        negativeSample(emb, emb.filter(col("vec_id") < 8), k = 16)
          .orderBy("anchor_id", "priority", "neighbor_id")
      }),

    // ---- L9s: semantic decontamination (planted-paraphrase oracle) -----------
    // Corpus = all embeddings + a perturbed copy of every eval vector
    // (x -> x + 0.01: cos ~0.997 to its source — a "paraphrase" no exact
    // sweep can catch; measured margins: planted-self >= 0.9968, best
    // cross-pair <= 0.42, threshold 0.9 sits in a ~0.55-wide gap, so
    // float-path differences between engines cannot flip a decision).
    // Expected drops: every eval member (cos 1) + every planted copy.
    Q("q_decontaminate_semantic", Some(
      """WITH ev AS (
        |  SELECT vec_id AS eval_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |corpus AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000,
        |         list_transform(CAST(embedding AS DOUBLE[]), x -> x + 0.01)
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |best AS (
        |  SELECT c.vec_id, ev.eval_id,
        |    list_cosine_similarity(c.v, ev.v) AS cos,
        |    row_number() OVER (PARTITION BY c.vec_id
        |      ORDER BY list_cosine_similarity(c.v, ev.v) DESC, ev.eval_id)
        |      AS rn
        |  FROM corpus c CROSS JOIN ev)
        |SELECT vec_id, eval_id FROM best WHERE rn = 1 AND cos >= 0.9
        |ORDER BY vec_id""".stripMargin),
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val evalSet = emb.filter(col("vec_id") % 10 === 0)
        val planted = evalSet.select(
          (col("vec_id") + 100000L).as("vec_id"),
          transform(toDouble(col("embedding")), x => x + lit(0.01))
            .as("embedding"))
        val corpus = emb
          .select(col("vec_id"), toDouble(col("embedding")).as("embedding"))
          .unionByName(planted)
        // output-sized exchange BELOW the global sort (r12): orderBy's
        // range partitioner SAMPLES its child, and with no exchange in
        // between the sample re-ran the whole kernel scan — the probe
        // showed two ~0.65 s jobs for one corpus pass. With the
        // repartition, AQE materializes the kernel stage once and the
        // sampler reads its shuffle output (contaminated-rows-sized at
        // any scale, ≪ a corpus pass).
        semanticContaminationPairs(corpus, evalSet, 0.9)
          .repartition(col("vec_id"))
          .orderBy("vec_id")
      }),

    // ---- L3+: per-label embedding centroids (class means / k-means step) -------
    // posexplode + hash aggregate is the RIGHT 100 TB shape, not a custom
    // vector UDAF: the x64 row explosion is compute-only (inside whole-stage
    // codegen, before the exchange), and map-side partial aggregation means
    // the shuffle carries only labels x dims x partitions partial sums —
    // independent of corpus size. Oracle zips DuckDB's parallel unnest.
    Q("q_embed_centroid", Some(
      """WITH e AS (
        |  SELECT label, unnest(range(0, len(embedding))) AS dim,
        |         unnest(embedding) AS v
        |  FROM embeddings)
        |SELECT label, CAST(dim AS BIGINT) AS dim, round(avg(v), 5) AS c
        |FROM e GROUP BY label, dim ORDER BY label, dim""".stripMargin),
      (s, d) => Tables(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(round(avg("v"), 5).as("c"))
        .select(col("label"), col("dim").cast("long").as("dim"), col("c"))
        .orderBy("label", "dim")),

    // ---- L3: exact cosine top-5 for the first 10 vectors ---------------------
    Q("q_cosine_topk", Some(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        |p AS (
        |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * t.v[i]))
        |    / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
        |       * sqrt(list_sum(list_transform(t.v, x -> x * x)))) AS cos
        |  FROM q, e t WHERE q.vec_id <> t.vec_id)
        |SELECT query_id, neighbor_id, CAST(rn AS BIGINT) AS rank,
        |       round(cos, 3) AS cosine
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        |      FROM p)
        |WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin),
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        bruteForceTopK(emb, emb.filter(col("vec_id") < 10), 5)
          .withColumn("cosine", round(col("cos"), 3))
          .select("query_id", "neighbor_id", "rank", "cosine")
          .orderBy("query_id", "rank")
      }),

    // ---- L2: banded MinHash-LSH near-dup pairs, GROUND-TRUTH oracled -----------
    // The oracle is DuckDB's exact all-pairs word-3-gram Jaccard over the
    // whole table — brute force is feasible at oracle scale (500 docs =
    // 124,750 pairs). The Spark side stays the LSH scale path (no all-pairs
    // stage); it matches the brute-force twin because 16x4 banding has
    // ~unit recall at the fixture's j >= 0.8 true pairs and the verify
    // stage computes EXACT Jaccard on candidates (hash-set form).
    Q("q_dedup_minhash", Some(
      """WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
        |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS sh
        |  FROM documents)
        |SELECT id_a, id_b, jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin),
      (s, d) => minhashPairsNative(Tables(s, d, "documents"), 0.5,
          exactVerify = true, maxBucket = 1000)
        .orderBy("id_a", "id_b")),

    // ---- L2 incremental: new batch vs stored history signatures ----------------
    // Base = docs < 250 contribute ONLY their signature table; batch =
    // docs >= 250. The tick itself stays estimate-verified (history text is
    // never re-shingled — that IS the incremental contract), yet the kept
    // set is ground-truth oracled: the fixture's true pairs sit at
    // j >= 0.8 and everything else at j < 0.3, both many sigma from the
    // 0.5 decision line of a 64-perm estimate, so the estimate decision
    // provably equals DuckDB's exact brute-force derivation below
    // (base-hit drop, then min-id survives each in-batch component).
    Q("q_dedup_increment", Some(
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
        |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS sh
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5),
        |base_hit AS (
        |  SELECT DISTINCT greatest(id_a, id_b) AS id FROM p
        |  WHERE least(id_a, id_b) < 250 AND greatest(id_a, id_b) >= 250),
        |ip AS (
        |  SELECT id_a, id_b FROM p
        |  WHERE id_a >= 250 AND id_b >= 250
        |    AND id_a NOT IN (SELECT id FROM base_hit)
        |    AND id_b NOT IN (SELECT id FROM base_hit)),
        |e AS (SELECT id_a AS u, id_b AS v FROM ip
        |      UNION SELECT id_b, id_a FROM ip),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id),
        |drops AS (SELECT id FROM reach GROUP BY id HAVING id <> min(r))
        |SELECT doc_id FROM documents
        |WHERE doc_id >= 250
        |  AND doc_id NOT IN (SELECT id FROM base_hit)
        |  AND doc_id NOT IN (SELECT id FROM drops)
        |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val baseSigs = minhashSignatures(docs.filter(col("doc_id") < 250))
        val (kept, _) = dedupIncrement(
          docs.filter(col("doc_id") >= 250), baseSigs)
        kept.select("doc_id").orderBy("doc_id")
      }),

    // ---- L2: pairs -> connected components -> keep/drop decision ---------------
    // The stage that actually dedups the corpus. Oracle: DuckDB recomputes
    // the exact >= 0.5 Jaccard pair graph brute-force and resolves
    // components via a RECURSIVE transitive-closure CTE with min-label
    // cluster ids — a fully independent reimplementation of the
    // pointer-doubling propagation (TextOps.dedupClusters) it checks.
    Q("q_dedup_resolve", Some(
      """WITH RECURSIVE s AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
        |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS sh
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= 0.5),
        |e AS (SELECT id_a AS u, id_b AS v FROM p
        |      UNION SELECT id_b, id_a FROM p),
        |reach(id, r) AS (
        |  SELECT u, u FROM e
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id)
        |SELECT id AS doc_id, min(r) AS cluster_id, (id = min(r)) AS keep
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
      (s, d) => TextOps.dedupClusters(
        minhashPairsNative(Tables(s, d, "documents"), 0.5,
          exactVerify = true, maxBucket = 1000))
        .orderBy("doc_id")),

    // ---- L3: IVF-bucketed ANN, oracled via its RECALL law -----------------------
    // The approximate neighbor list is engine-defined, so the declared
    // frame is the recall harness instead: per query, the exact top-1
    // neighbor (DuckDB recomputes it brute force — binds the frame to real
    // data) plus the MEAN recall@5 >= 0.8 law over the 10-query batch —
    // the standard ANN contract, and the q_knn_graph form: the fixture
    // embeddings are near-uniform on the sphere (no cluster structure for
    // the coarse quantizer to exploit), so PER-query recall is binomial-
    // noisy — one unlucky query straddling unprobed cells is geometry, not
    // a defect. nProbe=12 of 16 cells gives the batch mean honest headroom
    // (measured ~0.9-1.0 at both SFs under hash-spread training samples).
    Q("q_ann_ivf", Some(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        |p AS (
        |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * t.v[i]))
        |    / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
        |       * sqrt(list_sum(list_transform(t.v, x -> x * x)))) AS cos
        |  FROM q, e t WHERE q.vec_id <> t.vec_id),
        |r AS (SELECT query_id, neighbor_id, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        |      FROM p)
        |SELECT query_id, neighbor_id AS exact_top1, true AS mean_recall_ok
        |FROM r WHERE rn = 1 ORDER BY query_id""".stripMargin),
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        val exact = bruteForceTopK(emb, queries, 5).localCheckpoint()
        val approx = ivfTopK(emb, queries, 5, nProbe = 12)
        val hits = exact.select("query_id", "neighbor_id")
          .join(approx.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(cnt.as("hits"))
        val top1 = exact.filter(col("rank") === 1)
          .select(col("query_id"), col("neighbor_id").as("exact_top1"))
        val mr = top1.join(hits, Seq("query_id"), "left")
          .agg((sum(coalesce(col("hits"), lit(0L))) / (cnt * lit(5.0)))
            .as("mr"))
        top1.crossJoin(broadcast(mr))
          .select(col("query_id"), col("exact_top1"),
            (col("mr") >= 0.8).as("mean_recall_ok"))
          .orderBy("query_id")
      }),

    // ---- L18: the STORED IVF index, same recall law through a round trip --------
    // Build once, persist partitioned by cell, read back, query — the
    // production build-once-query-many path under the driver gate, not
    // just its API. The oracle is identical to q_ann_ivf's (exact top-1 +
    // mean-recall law): a store round trip must not cost recall (doubles
    // survive parquet exactly; probing becomes partition pruning).
    Q("q_ann_ivf_stored", Some(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        |p AS (
        |  SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        |    list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * t.v[i]))
        |    / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
        |       * sqrt(list_sum(list_transform(t.v, x -> x * x)))) AS cos
        |  FROM q, e t WHERE q.vec_id <> t.vec_id),
        |r AS (SELECT query_id, neighbor_id, row_number() OVER (
        |        PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rn
        |      FROM p)
        |SELECT query_id, neighbor_id AS exact_top1, true AS mean_recall_ok
        |FROM r WHERE rn = 1 ORDER BY query_id""".stripMargin),
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        // build and write the index, then query it the production way:
        // partition-pruned cell probes against the stored index
        val idxDir = graft.query.Pipelines.demoRoot("graft_ivf").toString
        writeIvfIndex(buildIvfIndex(emb, nCells = 16, kmeansIters = 2), idxDir)
        val stored = readIvfIndex(s, idxDir)
        val exact = bruteForceTopK(emb, queries, 5).localCheckpoint()
        val approx = ivfQuery(stored, queries, 5, nProbe = 12)
        val hits = exact.select("query_id", "neighbor_id")
          .join(approx.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(cnt.as("hits"))
        val top1 = exact.filter(col("rank") === 1)
          .select(col("query_id"), col("neighbor_id").as("exact_top1"))
        val mr = top1.join(hits, Seq("query_id"), "left")
          .agg((sum(coalesce(col("hits"), lit(0L))) / (cnt * lit(5.0)))
            .as("mr"))
        top1.crossJoin(broadcast(mr))
          .select(col("query_id"), col("exact_top1"),
            (col("mr") >= 0.8).as("mean_recall_ok"))
          .orderBy("query_id")
      }),

    // ---- L18++: INCREMENTAL index maintenance — structural + recall laws -------
    // Build + store the index on the LOW-ID HALF of the corpus only, then
    // ivfAppend the high half (one assignment scan, fixed centroids,
    // cell-partitioned append) and query the grown index. Laws: the grown
    // index holds EXACTLY the corpus (append lost nothing — structural
    // fact the oracle states as count(*)), and MEAN recall@5 over the
    // 10-query audit vs the in-query exact brute force stays >= 0.8 (the
    // form the whole IVF family uses since round 8) — here doubly
    // justified because the quantizer deliberately trained on HALF the
    // data: per-query recall of a degraded quantizer is binomial-noisy, and
    // that degradation-vs-drift trade is exactly what the operator's
    // retrain contract is about. Fixed-centroid result equality with a
    // from-scratch union assignment is unit-tested directly.
    Q("q_ann_ivf_append", Some(
      """SELECT count(*) AS n_indexed, true AS mean_recall_ok
        |FROM embeddings""".stripMargin),
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val half = emb.agg(expr("percentile(vec_id, 0.5)")).head().getDouble(0)
        val queries = emb.filter(col("vec_id") < 10)
        val idxDir = graft.query.Pipelines.demoRoot("graft_ivf_app").toString
        writeIvfIndex(buildIvfIndex(emb.filter(col("vec_id") <= half),
          nCells = 16), idxDir)
        ivfAppend(s, idxDir, emb.filter(col("vec_id") > half))
        val grown = readIvfIndex(s, idxDir)
        val exact = bruteForceTopK(emb, queries, 5)
        val approx = ivfQuery(grown, queries, 5, nProbe = 10)
        val recall = exact.select("query_id", "neighbor_id")
          .join(approx.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_semi")
          .agg((cnt / lit(10.0 * 5)).as("mean_recall"))
        grown.assignments.agg(cnt.as("n_indexed"))
          .crossJoin(recall)
          .select(col("n_indexed"),
            (col("mean_recall") >= 0.8).as("mean_recall_ok"))
      }),

    // ---- L3: LSH-bucketed ANN, oracled via its RECALL law -----------------------
    // Same harness shape for the threshold-join form: n_exact = the true
    // neighbor count at cos >= 0.2 (DuckDB recomputes it; the nearest
    // fixture cosine is 2.5e-4 from the threshold, so engine FP drift can
    // never flip membership), recall_ok = the MLlib BRP-LSH join found at
    // least 80% of them (measured per-query recall: 0.88-1.0).
    Q("q_ann_lsh", Some(
      """WITH e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id, v FROM e WHERE vec_id < 10),
        |p AS (
        |  SELECT q.vec_id AS query_id,
        |    list_sum(list_transform(generate_series(1, 64), i -> q.v[i] * t.v[i]))
        |    / (sqrt(list_sum(list_transform(q.v, x -> x * x)))
        |       * sqrt(list_sum(list_transform(t.v, x -> x * x)))) AS cos
        |  FROM q, e t WHERE q.vec_id <> t.vec_id)
        |SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact, true AS recall_ok
        |FROM p WHERE cos >= 0.2 GROUP BY query_id ORDER BY query_id""".stripMargin),
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") < 10)
        val q = queries.select(col("vec_id").as("query_id"),
          toDouble(col("embedding")).as("qv"))
        val t = emb.select(col("vec_id").as("neighbor_id"),
          toDouble(col("embedding")).as("tv"))
        val exact = t.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
          .filter(cosine(col("qv"), col("tv")) >= 0.2)
          .select("query_id", "neighbor_id")
          .localCheckpoint()
        val found = annCosine(emb, queries, 0.2)
          .select("query_id", "neighbor_id")
        val hits = exact.join(found, Seq("query_id", "neighbor_id"), "left_semi")
          .groupBy("query_id").agg(cnt.as("hits"))
        exact.groupBy("query_id").agg(cnt.as("n_exact"))
          .join(hits, Seq("query_id"), "left")
          .select(col("query_id"), col("n_exact"),
            (coalesce(col("hits"), lit(0L)).cast("double")
              >= col("n_exact") * 0.8).as("recall_ok"))
          .orderBy("query_id")
      }),

    // ---- L4/L3: int8 embedding quantization, oracled via its error LAW ---------
    // (booleans, not raw codes: a 0.5-boundary code may legitimately differ
    // by 1 between engines' float paths, but the reconstruction bound
    // |x - x'| <= scale/2 + eps holds either way, so the oracle is
    // drift-proof while still verifying both quantizers end to end)
    Q("q_quantize_embed", Some(
      """SELECT vec_id, code_lo_ok, code_hi_ok, within_bound FROM (
        |  SELECT vec_id,
        |    list_min(codes) >= 0 AS code_lo_ok,
        |    list_max(codes) <= 255 AS code_hi_ok,
        |    list_max(list_transform(generate_series(1, len(v)),
        |      i -> abs(v[i] - (zero + codes[i] * scale)))) <= scale / 2 + 1e-9
        |      AS within_bound
        |  FROM (
        |    SELECT vec_id, v, zero, scale,
        |      list_transform(v, x -> CAST(round((x - zero) / scale) AS INT))
        |        AS codes
        |    FROM (
        |      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |        list_min(CAST(embedding AS DOUBLE[])) AS zero,
        |        greatest((list_max(CAST(embedding AS DOUBLE[]))
        |          - list_min(CAST(embedding AS DOUBLE[]))) / 255, 1e-12)
        |          AS scale
        |      FROM embeddings)))
        |ORDER BY vec_id""".stripMargin),
      (s, d) => {
        // staged, not one-shot: aggregate exprs referenced
        // inside a transform lambda evaluate PER ELEMENT (no loop-invariant
        // hoisting), so zero/scale must be real attributes before the code
        // lambda reads them. Each stage re-exports them alongside their
        // lambda use — the multi-reference is what stops CollapseProject
        // from inlining the aggregates back into the lambda (measured
        // ~40x on the sf0.1 scan).
        val v = toDouble(col("embedding"))
        Tables(s, d, "embeddings")
          .select(col("vec_id"), v.as("v"))
          .select(col("vec_id"), col("v"),
            array_min(col("v")).as("zero"),
            greatest((array_max(col("v")) - array_min(col("v"))) / 255.0d,
              lit(1e-12)).as("scale"))
          .select(col("vec_id"), col("v"), col("zero"), col("scale"),
            transform(col("v"), x =>
              round((x - col("zero")) / col("scale")).cast("int"))
              .as("codes"))
          .select(col("vec_id"),
            (array_min(col("codes")) >= 0).as("code_lo_ok"),
            (array_max(col("codes")) <= 255).as("code_hi_ok"),
            (array_max(zip_with(col("v"),
              transform(col("codes"), c => col("zero") + c * col("scale")),
              (x, y) => abs(x - y))) <= col("scale") / 2 + 1e-9)
              .as("within_bound"))
          .orderBy("vec_id")
      }),

    // ---- L2 on embeddings: near-duplicate vectors via native sign-LSH ----------
    // GROUND-TRUTH oracled through a planted-near-dup harness: the fixture
    // has no natural high-cosine pairs (max ~0.6), so the corpus is the
    // embeddings UNION a deterministically jittered copy of each vector
    // (component i scaled by 1 + 0.001*(i%7 - 3) — pure double arithmetic,
    // bit-identical in both engines). True pairs at threshold 0.9 are then
    // exactly the 1-per-vector planted copies (cos ~ 0.9999995, found by
    // sign-LSH with certainty: bit-flip probability 3e-4, all-8-bands-miss
    // ~2e-21) while natural pairs stay below 0.62. The oracle recomputes
    // all-pairs cosine brute force over the derived corpus. Output cosines
    // are EXACT — LSH only prunes the candidate set.
    Q("q_embed_neardup", Some(
      """WITH e0 AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |e AS (
        |  SELECT vec_id, v FROM e0
        |  UNION ALL
        |  SELECT vec_id + 100000, list_transform(generate_series(1, len(v)),
        |    i -> v[i] * (1 + 0.001 * ((i - 1) % 7 - 3))) FROM e0),
        |u AS (SELECT vec_id, v,
        |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
        |p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    round(list_sum(list_transform(generate_series(1, len(a.v)),
        |            i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm), 4) AS cos
        |  FROM u a JOIN u b ON a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0)
        |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.9
        |ORDER BY id_a, id_b""".stripMargin),
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val base = emb.select(col("vec_id"),
          toDouble(col("embedding")).as("embedding"))
        val planted = base.select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => x * (lit(1.0) + lit(0.001) * (i % 7 - 3)))
            .as("embedding"))
        cosinePairsNative(base.union(planted), 0.9, maxBucket = 1000)
          .orderBy("id_a", "id_b")
      })
  )
}
