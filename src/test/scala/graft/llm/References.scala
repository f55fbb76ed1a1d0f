package graft.llm

import org.apache.spark.ml.feature.{HashingTF, MinHashLSH}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference forms of the LLM-data kernels: the slower or independent
  * definitions the specs pin each production fast path to (drift guards,
  * recall cross-checks), plus the lazy plan builders the plan lints
  * inspect. None of them runs in a registry key or a tick.
  */
object References {

  /** Word n-gram shingles as strings, distinct. Empty array when the
    * document has fewer than n words.
    */
  def shingles(text: Column, n: Int): Column =
    array_distinct(TextOps.ngramsAll(text, n))

  /** The built-in-HOF definition [[TextOps.ngramHashes]] replaces: the word
    * hashes fold through n-1 shifted `zip_with`s, where every array is a
    * zip ARGUMENT — evaluated once per row — never an expression captured
    * inside a HOF lambda (which Spark re-evaluates per element).
    */
  def ngramHashesHof(text: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val wh = transform(TextOps.words(text), w => xxhash64(w))
    // after the fold, element i is hash(word i .. word i+n-1); the last
    // n-1 elements are junk (they hashed past-the-end nulls) and the
    // final slice drops them
    val folded = (2 to n).foldLeft(wh) { (acc, j) =>
      zip_with(acc,
        slice(wh, lit(j), greatest(size(wh) - (j - 1), lit(1))),
        (a, b) => xxhash64(a, b))
    }
    slice(folded, lit(1), greatest(size(wh) - (n - 1), lit(0)))
  }

  /** Higher-order-function form of [[VectorOps.dot]], the independent
    * semantics oracle for the native expression.
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** MLlib cross-check of [[VectorOps.minhashPairsNative]] (HashingTF +
    * MinHashLSH `approxSimilarityJoin`), the independent oracle for the
    * native path's recall.
    */
  def minhashPairs(docs: DataFrame, threshold: Double): DataFrame = {
    val sh = docs.select(col("doc_id"), shingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    val featured = new HashingTF().setInputCol("sh").setOutputCol("features")
      .setNumFeatures(1 << 18).setBinary(true).transform(sh)
    val model = new MinHashLSH().setInputCol("features")
      .setOutputCol("hashes").setNumHashTables(8).setSeed(42L).fit(featured)
    val signed = model.transform(featured)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = model
      .approxSimilarityJoin(signed, signed, threshold, "jaccard_dist")
      .select(
        col("datasetA.doc_id").as("id_a"),
        col("datasetB.doc_id").as("id_b"),
        round(lit(1.0) - col("jaccard_dist"), 4).as("est_jaccard"))
      .filter(col("id_a") < col("id_b"))
      .localCheckpoint()
    signed.unpersist()
    out
  }

  /** The LAZY plan of [[VectorOps.minhashPairsNative]] — `(sig, verified)`
    * with no cache/checkpoint barriers and shuffle-hash re-attach, so
    * FanoutSortLintSpec can assert the physical shape of the whole
    * pipeline without running it.
    */
  def minhashPairsPlan(docs: DataFrame, threshold: Double, nBands: Int,
      rowsPerBand: Int, exactVerify: Boolean,
      maxBucket: Int): (DataFrame, DataFrame) = {
    val sig = VectorOps.minhashSigPlan(docs, nBands * rowsPerBand)
    (sig, VectorOps.minhashVerifyPlan(sig, threshold, nBands, rowsPerBand,
      exactVerify, maxBucket, graft.plans.Reattach.shuffleHash))
  }

  /** The composed-HOF form of DSIR's featurizer: per-doc unigram+bigram
    * occurrence ROWS (doc_id, f), one row per occurrence —
    * `groupBy(doc_id, f).count()` over it restates the counting kernel.
    */
  def featuresReference(docs: DataFrame, hashBuckets: Int): DataFrame = {
    val uni = docs.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("f"))
    val bi = docs.select(col("doc_id"),
      explode(TextOps.ngramsAll(col("text"), 2)).as("f"))
    val all = uni.union(bi)
    if (hashBuckets <= 0) all
    else all.select(col("doc_id"),
      pmod(xxhash64(col("f")), lit(hashBuckets.toLong)).as("f"))
  }

  /** The composed-expression form of [[Clustering.clusterOf]] — K struct
    * subtrees under `array_max`, ties to lowest index via the negated-index
    * field.
    */
  def clusterOfReference(cents: Seq[(Int, Seq[Double])])(
      v: Column): Column = {
    val scored = array(cents.map { case (i, c) =>
      val negHalfNorm = -c.map(x => x * x).sum / 2
      struct((VectorOps.dot(v, typedLit(c)) + lit(negHalfNorm)).as("s"),
        lit(-i).as("negc"))
    }: _*)
    -array_max(scored).getField("negc")
  }

  /** Exact word-aligned phrase search through the stored index, verified
    * by a semi-join against the full `docs` frame — the unpruned form of
    * [[PhraseIndex.phraseSearchPruned]]. Phrases shorter than `n` words
    * fall back to the direct verify scan.
    */
  def phraseSearch(spark: SparkSession, dir: String, docs: DataFrame,
      phrase: String, n: Int = 3, nBuckets: Int = 64): DataFrame = {
    PhraseIndex.checkMeta(spark, dir, n, nBuckets)
    val verify = concat(lit(" "), col("text"), lit(" "))
      .contains(s" $phrase ")
    val grams = PhraseIndex.phraseGramHashes(spark, phrase, n)
    if (grams.isEmpty) return docs.filter(verify).select("doc_id")
    val buckets = grams.map(g => ((g % nBuckets) + nBuckets) % nBuckets)
      .distinct
    val candidates = PhraseIndex.readGrams(spark, dir)
      .filter(col("bucket").isin(buckets: _*)) // partition pruning
      .filter(col("gh").isin(grams: _*))
      .groupBy("doc_id").agg(countDistinct("gh").as("__nh"))
      .filter(col("__nh") === grams.size)
      .select("doc_id")
    docs.join(candidates, Seq("doc_id"), "left_semi")
      .filter(verify)
      .select("doc_id")
  }

  /** Probe + ADC + exact rerank against a built (possibly store-loaded)
    * IVF-PQ index, re-attaching float vectors from the full `corpus` — the
    * unpruned form of [[Pq.ivfPqQueryPruned]].
    */
  def ivfPqQuery(index: Pq.IvfPqIndex, corpus: DataFrame,
      queries: DataFrame, k: Int, nProbe: Int = 2,
      shortlist: Int = 64): DataFrame = {
    val (_, short) = Pq.adcShortlist(index, queries, nProbe, shortlist)
    val tv = corpus.select(col("vec_id").as("neighbor_id"),
      VectorOps.toDouble(col("embedding")).as("tv"))
    val qv = queries.select(col("vec_id").as("query_id"),
      VectorOps.toDouble(col("embedding")).as("qv"))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("cos"), asc("neighbor_id"))
    tv.join(broadcast(short.select("query_id", "neighbor_id")),
        Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cos", VectorOps.cosine(col("qv"), col("tv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cos")
  }
}
