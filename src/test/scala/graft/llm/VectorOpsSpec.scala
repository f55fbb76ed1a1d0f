package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class VectorOpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def emb(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("cosine: self = 1, orthogonal = 0, opposite = -1") {
    val df = emb(
      (1L, Seq(1f, 0f)), (2L, Seq(0f, 1f)), (3L, Seq(-1f, 0f)))
    val q = df.select($"vec_id".as("qid"),
      VectorOps.toDouble($"embedding").as("a"))
    val t = df.select($"vec_id".as("tid"),
      VectorOps.toDouble($"embedding").as("b"))
    val cos = q.crossJoin(t)
      .select($"qid", $"tid", round(VectorOps.cosine($"a", $"b"), 9).as("c"))
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    assert(cos((1L, 1L)) === 1.0)
    assert(cos((1L, 2L)) === 0.0)
    assert(cos((1L, 3L)) === -1.0)
  }

  test("bruteForceTopK: nearest neighbor first, self excluded, k respected (L3)") {
    val df = emb(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(0.9f, 0.1f, 0f)),   // closest to 0
      (2L, Seq(0f, 1f, 0f)),
      (3L, Seq(0.5f, 0.5f, 0f)),
      (4L, Seq(0f, 0f, 1f)))
    val top = VectorOps.bruteForceTopK(df, df.filter($"vec_id" === 0), 3)
    val got = top.orderBy("rank")
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq
    assert(got.map(_._1) === Seq(1L, 3L, 2L))   // by descending cosine
    assert(got.map(_._2) === Seq(1L, 2L, 3L))
    assert(!got.map(_._1).contains(0L))          // self excluded
  }

  test("annCosine recalls the true near neighbor (L3 scale path)") {
    // 2 clusters + noise; query belongs to cluster A
    val a = Seq.tabulate(8)(i => (10L + i, Seq(1f, 0.01f * i, 0f, 0f)))
    val b = Seq.tabulate(8)(i => (20L + i, Seq(0f, 0f, 1f, 0.01f * i)))
    val df = emb((0L, Seq(1f, 0f, 0f, 0f)) +: (a ++ b): _*)
    val got = VectorOps.annCosine(df, df.filter($"vec_id" === 0), 0.9)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got.nonEmpty)
    assert(got.subsetOf((10L to 17L).toSet)) // only cluster A, never B
  }

  test("minhashPairsNative finds planted near-dups, exact jaccard, no false pairs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val docs = Seq(
      (1L, base),
      (2L, base + " extra"),                     // near-dup of 1
      (3L, "completely different words here about spark engines and parquet files"),
      (4L, "unrelated text with nothing shared at all in any shingle")
    ).toDF("doc_id", "text")
    val pairs = VectorOps.minhashPairsNative(docs, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(pairs.head._3 > 0.8) // exact jaccard of the planted pair
  }

  test("maxBucket caps the boilerplate hot bucket; distinct near-dups still found") {
    // 20 byte-identical boilerplate docs (every band agrees -> one bucket of
    // 20 = 190 quadratic pairs) + one planted distinct near-dup pair
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod tempor"
    val base = "the quick brown fox jumps over the lazy dog and runs far away home tonight"
    val docs = ((1L to 20L).map(i => (i, boiler)) ++
      Seq((100L, base), (101L, base + " extra"))).toDF("doc_id", "text")
    val capped = VectorOps.minhashPairsNative(docs, 0.5, maxBucket = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the planted pair survives, and the hot bucket degrades to STAR pairs
    // (each member vs the min-id representative) instead of 190 all-pairs —
    // every boilerplate doc still reaches cluster resolution through doc 1
    assert(capped === ((2L to 20L).map(i => (1L, i)).toSet + ((100L, 101L))))
    val uncapped = VectorOps.minhashPairsNative(docs, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size === 190 + 1) // all boilerplate pairs + planted
  }

  test("dedupIncrement: base hits drop, in-batch clusters resolve, short docs survive (L2 incremental)") {
    val histText = (1 to 50).map(i => s"tok$i").mkString(" ")
    val base = Seq((1L, histText),
      (2L, (100 to 150).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val baseSigs = VectorOps.minhashSignatures(base)
    val batch = Seq(
      (10L, histText + " x"),                                 // ~ history 1
      (11L, (300 to 350).map(i => s"w$i").mkString(" ")),     // fresh
      (12L, (400 to 450).map(i => s"v$i").mkString(" ")),     // in-batch pair a
      (13L, (400 to 450).map(i => s"v$i").mkString(" ") + " y"), // pair b
      (14L, "too short")                                      // no signature
    ).toDF("doc_id", "text")
    val (kept, keptSigs) = VectorOps.dedupIncrement(batch, baseSigs,
      threshold = 0.5)
    assert(kept.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(11L, 12L, 14L))
    // appended state: signatures of the kept SIGNABLE docs only
    assert(keptSigs.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(11L, 12L))
    // idempotence of the tick: appending keptSigs to history and re-running
    // the same batch drops everything (every doc now matches history)
    val hist2 = baseSigs.union(keptSigs)
    val (kept2, _) = VectorOps.dedupIncrement(
      batch.filter(col("doc_id") =!= 14L), hist2, threshold = 0.5)
    assert(kept2.count() === 0L)
  }

  test("IVF index: store round-trip preserves results; probes prune partitions (L3 e2e)") {
    val emb = graft.query.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val direct = VectorOps.ivfTopK(emb, queries, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    val dir = tmpDir("ivfidx") + "/idx"
    VectorOps.writeIvfIndex(VectorOps.buildIvfIndex(emb), dir)
    val loaded = VectorOps.readIvfIndex(spark, dir)
    val viaStore = VectorOps.ivfQuery(loaded, queries, k = 5)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaStore === direct)
    // layout contract: one parquet partition per cell...
    val cells = new java.io.File(s"$dir/assignments").list()
      .filter(_.startsWith("cell=")).toSeq
    assert(cells.nonEmpty)
    // ...so a cell probe is a partition FILTER at the scan, not a full read
    val plan = loaded.assignments.filter(col("cell") === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("ivfAppend: build-on-half + append-half EQUALS indexing everything " +
    "at once under fixed centroids (L18 incremental law)") {
    val emb = graft.query.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val low = emb.filter(col("vec_id") < 250)
    val high = emb.filter(col("vec_id") >= 250)
    val queries = emb.filter(col("vec_id") < 5)
    val dir = tmpDir("ivfapp") + "/idx"
    val built = VectorOps.buildIvfIndex(low)
    VectorOps.writeIvfIndex(built, dir)
    VectorOps.ivfAppend(spark, dir, high)
    val grown = VectorOps.readIvfIndex(spark, dir)
    // appended vectors are queryable...
    val viaAppend = VectorOps.ivfQuery(grown, queries, k = 5, nProbe = 16)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaAppend.exists(_._2 >= 250), "appended vectors never surface")
    // ...and with centroids FIXED, results equal a from-scratch assignment
    // of the union against the SAME centroids
    val v = VectorOps.toDouble(col("embedding"))
    val unionAssigned = VectorOps.IvfIndex(built.centroids,
      emb.select(col("vec_id").as("neighbor_id"), v.as("tv"),
        graft.functions.GraftFunctions.nearestCentroid(
          v, built.centroids.sortBy(_._1).flatMap(_._2),
          built.centroids.head._2.length, euclidean = false).as("cell")))
    val direct = VectorOps.ivfQuery(unionAssigned, queries, k = 5, nProbe = 16)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaAppend === direct)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("ivf: a rebuild over an index that took appends replaces it, and " +
    "queries read the rebuilt index") {
    val emb = graft.query.Tables(spark, sf("sf0.001"), "embeddings")
    val dir = tmpDir("ivfrb") + "/idx"
    VectorOps.writeIvfIndex(
      VectorOps.buildIvfIndex(emb.filter(col("vec_id") < 300)), dir)
    VectorOps.ivfAppend(spark, dir,
      emb.filter(col("vec_id") >= 300).select("vec_id", "embedding"))
    assert(VectorOps.readIvfIndex(spark, dir).assignments.count()
      === emb.count())
    val rebuilt = VectorOps.buildIvfIndex(emb)
    VectorOps.writeIvfIndex(rebuilt, dir)
    val loaded = VectorOps.readIvfIndex(spark, dir)
    assert(loaded.assignments.count() === emb.count(),
      "rebuild must replace history, not add to it")
    def query(idx: VectorOps.IvfIndex) =
      VectorOps.ivfQuery(idx, emb.filter(col("vec_id") < 5), k = 5,
          nProbe = 16)
        .select("query_id", "neighbor_id")
        .as[(Long, Long)].collect().toSeq.sorted
    val got = query(loaded)
    assert(got.nonEmpty)
    assert(got === query(rebuilt))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("signature-store ticks: dedupIncrement + TableStore compose across batches (L17 e2e)") {
    import graft.store.TableStore
    val dir = tmpDir("sigstore") + "/sigs"
    val textA = (1 to 50).map(i => s"tok$i").mkString(" ")
    val textB = (100 to 150).map(i => s"w$i").mkString(" ")
    val textC = (200 to 250).map(i => s"v$i").mkString(" ")
    def tickDate(d: String) = to_date(lit(d))

    // tick 1: empty history; in-batch near-dup pair (1, 2) resolves to 1
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val batch1 = Seq((1L, textA), (2L, textA + " z"), (3L, textB))
      .toDF("doc_id", "text")
    val (kept1, sigs1) = VectorOps.dedupIncrement(
      batch1, VectorOps.minhashSignatures(empty))
    assert(kept1.select("doc_id").as[Long].collect().sorted.toSeq ===
      Seq(1L, 3L))
    TableStore.append(sigs1.withColumn("date", tickDate("2024-02-29")), dir)

    // tick 2: history read back from the store; 10 duplicates history's
    // textA, 11 is fresh
    val batch2 = Seq((10L, textA + " q"), (11L, textC)).toDF("doc_id", "text")
    val base = TableStore.read(spark, dir).select("doc_id", "sig")
    val (kept2, sigs2) = VectorOps.dedupIncrement(batch2, base)
    assert(kept2.select("doc_id").as[Long].collect().toSeq === Seq(11L))
    TableStore.append(sigs2.withColumn("date", tickDate("2024-03-01")), dir)

    // the store now carries exactly the surviving signable corpus
    assert(TableStore.read(spark, dir).select("doc_id")
      .as[Long].collect().sorted.toSeq === Seq(1L, 3L, 11L))
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("native and MLlib minhash agree on the planted pair (cross-check)") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, base), (2L, base + " nu"),
      (3L, "totally disjoint vocabulary set one two three four five six seven")
    ).toDF("doc_id", "text")
    val native = VectorOps.minhashPairsNative(docs, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val mllib = References.minhashPairs(docs, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(native === mllib)
    assert(native === Set((1L, 2L)))
  }

  test("cosinePairsNative: near-identical vectors found with exact cosine, distant pairs absent") {
    val close = Seq.tabulate(64)(i => if (i == 0) 1f else 0.001f * i)
    val closeB = close.updated(1, 0.02f)             // tiny perturbation
    val far = Seq.tabulate(64)(i => if (i == 33) 1f else 0f)
    val df = emb((1L, close), (2L, closeB), (3L, far))
    val got = VectorOps.cosinePairsNative(df, 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(got.head._3 > 0.99) // exact cosine, not an estimate
  }

  test("cosinePairsNative infers dim from data: recall intact at dim != 64") {
    // 128-wide vectors: the first 64 components are small OPPOSITE noise,
    // the last 64 hold a large shared spike. True cosine(1,2) ~ 0.9998 via
    // the tail; planes hashing only a 64-wide prefix would see n vs -n —
    // every sign bit flips, zero matching bands, pair silently lost. Full
    // 128-wide planes are dominated by the shared tail and recover it.
    val n = Seq.tabulate(64)(i => 0.1f * ((i % 7) - 3))
    val t = Seq.tabulate(64)(i => if (i == 5) 100f else 0f)
    val a = n ++ t
    val b = n.map(-_) ++ t
    val c = Seq.fill(64)(0f) ++ Seq.tabulate(64)(i => if (i == 40) 100f else 0f)
    val df = emb((1L, a), (2L, b), (3L, c))
    val got = VectorOps.cosinePairsNative(df, 0.97)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got.map(p => (p._1, p._2)) === Seq((1L, 2L)))
    assert(got.head._3 > 0.99)
  }

  test("ivfCentroids: hash-spread seeding avoids the one-region degeneracy; " +
    "refinement never degrades the quantizer objective") {
    // 3 well-separated clusters whose LOWEST ids all sit in cluster A —
    // the id-ordered sampler of rounds <8 would seed all 3 centroids
    // there (B and C unquantized until Lloyd rescued them); the round-8
    // hash-spread sample must give a good quantizer from the seeds alone,
    // because at x100 scale the rescue never fully lands and skewed cells
    // turn the candidate fan-out quadratic (BASELINE.md round-8).
    def cluster(idBase: Long, axis: Int) = Seq.tabulate(6)(i =>
      (idBase + i, Seq.tabulate(8)(d => if (d == axis) 1f else 0.01f * i)))
    val df = emb(cluster(0, 0) ++ cluster(10, 3) ++ cluster(20, 6): _*)
    def objective(cents: Array[(Int, Seq[Double])]): Double = {
      val arr = df.select($"vec_id",
        VectorOps.toDouble($"embedding").as("v")).collect()
        .map(_.getSeq[Double](1))
      arr.map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        cents.map { case (_, c) =>
          v.zip(c).map { case (a, b) => a * b }.sum / n }.max
      }.sum / arr.length
    }
    val seedOnly = objective(VectorOps.ivfCentroids(df, 3, 0))
    val refined = objective(VectorOps.ivfCentroids(df, 3, 2))
    assert(seedOnly > 0.7,
      s"hash-spread seeds left the quantizer degenerate: $seedOnly")
    assert(refined >= seedOnly - 1e-9,
      s"k-means degraded quantization: $seedOnly -> $refined")
    assert(refined > 0.75)
  }

  test("ivfTopK: recall within probed cells matches brute force on clustered data") {
    // 3 tight clusters; centroids = lowest-id vecs, one per cluster
    def cluster(idBase: Long, axis: Int) = Seq.tabulate(6)(i =>
      (idBase + i, Seq.tabulate(8)(d => if (d == axis) 1f else 0.01f * i)))
    val df = emb(cluster(0, 0) ++ cluster(10, 3) ++ cluster(20, 6): _*)
    val q = df.filter($"vec_id" === 11)
    val ivf = VectorOps.ivfTopK(df, q, 3, nCells = 3, nProbe = 1)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq
    val brute = VectorOps.bruteForceTopK(df, q, 3)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toSeq
    assert(ivf === brute)   // true neighbors live in the probed cell
    assert(ivf.map(_._1).forall(id => id >= 10 && id < 20))
  }

  test("oracle-parity: engine cosine equals explicit double-math (sf0.001)") {
    val e = graft.query.Tables(spark, sf("sf0.001"), "embeddings")
    val top = VectorOps.bruteForceTopK(e, e.filter($"vec_id" < 2), 3)
    val cos = top.select("cos").as[Double].collect()
    assert(cos.forall(c => c >= -1.0 && c <= 1.0))
    assert(top.count() === 6)
  }

  test("negativeSample: accidental positives are excluded, selection is " +
    "deterministic, k is respected (L33)") {
    val emb = graft.query.Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val anchors = emb.filter(col("vec_id") < 3)
    // plant an exact duplicate of anchor 0 under a new id: cosine 1.0 →
    // it must NEVER be sampled as a negative for anchor 0
    val dup = anchors.filter(col("vec_id") === 0L)
      .select(lit(9999L).as("vec_id"), col("embedding"),
        col("label"))
    val corpus = emb.unionByName(dup)
    val got = VectorOps.negativeSample(corpus, anchors, k = 10)
      .as[(Long, Long, Long)].collect()
    assert(!got.exists(r => r._1 == 0L && r._2 == 9999L),
      "planted positive drawn as a negative")
    // k per anchor, and anchors never sample themselves
    val byAnchor = got.groupBy(_._1)
    assert(byAnchor.keySet == Set(0L, 1L, 2L))
    assert(byAnchor.values.forall(_.length == 10))
    assert(!got.exists(r => r._1 == r._2))
    // bit-for-bit re-run determinism — the no-RNG contract
    val again = VectorOps.negativeSample(corpus, anchors, k = 10)
      .as[(Long, Long, Long)].collect()
    assert(got.sortBy(r => (r._1, r._3, r._2)).toSeq ==
      again.sortBy(r => (r._1, r._3, r._2)).toSeq)
  }
}
