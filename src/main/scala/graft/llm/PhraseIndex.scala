package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import graft.query.Tables

/** S12/L25: stored inverted phrase index — the scale path for the
  * reference's flagship analytic, substring search over a corpus
  * (`/root/reference/preprocess.py:221-237` greps every commit message and
  * comment for " dask" on every run). A full-scan `contains` reads 100 TB
  * per query; the index reads a few kilobytes.
  *
  * Build: one map-only pass hashes each doc's distinct word n-grams
  * (native rolling kernel, no n-gram strings materialized) into
  * (gram-hash, doc_id) postings, stored PARTITIONED BY `pmod(hash,
  * nBuckets)` — one corpus-sized shuffle-free write, amortized over every
  * later search.
  *
  * Search: the phrase's n-gram hashes (a handful of longs, derived
  * driver-side with the SAME kernel) become partition filters + an IN
  * probe on the postings scan — only the phrase's buckets are ever read
  * (plan-asserted). A doc is a candidate iff it holds ALL phrase grams
  * (consecutive-words n-grams => candidates are exactly the word-aligned
  * matches); the final word-boundary `contains` verify on the candidates
  * (a near-empty semi-joined scan) makes the result EXACT — the index
  * bounds recall work, precision is the verify's.
  *
  * Word-boundary semantics, both paths: phrase P occurs iff
  * `' '||text||' '` contains `' '||P||' '` — token-aligned, not raw
  * substring (a raw-substring index over word grams would silently miss
  * mid-word matches like "stable part" ⊃ "table part").
  */
object PhraseIndex {

  /** One postings row per (distinct word n-gram, doc): map-only hashing +
    * a bucket-partitioned write. `nBuckets` bounds per-search read fan-out;
    * at 100 TB make it large (e.g. 4096) so one bucket is a small fraction
    * of the postings. A rebuild over an existing index overwrites it.
    */
  def buildPhraseIndex(docs: DataFrame, dir: String, n: Int = 3,
      nBuckets: Int = 64): Unit = {
    docs.select(col("doc_id"),
        explode(array_distinct(TextOps.ngramHashes(col("text"), n)))
          .as("gh"))
      .withColumn("bucket", pmod(col("gh"), lit(nBuckets)))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$dir/grams")
    // meta AFTER the postings: a rebuild may CHANGE (n, nBuckets), and the
    // sidecar must never advertise parameters the postings do not serve
    writeMeta(docs.sparkSession, dir, n, nBuckets)
  }

  /** The index's (n, nBuckets) sidecar. Searchers take their own
    * n/nBuckets arguments, and a silent mismatch with the built index is a
    * recall hole, not an error (postings live in mod-nBuckets′ buckets the
    * searcher's mod-nBuckets partition filter prunes away) — so the build
    * records its parameters and every search validates against them.
    * Absent sidecar (pre-existing index) skips the check.
    */
  private def writeMeta(spark: SparkSession, dir: String, n: Int,
      nBuckets: Int): Unit = {
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = f.create(new org.apache.hadoop.fs.Path(dir, "_meta"), true)
    try out.write(s"$n $nBuckets".getBytes("UTF-8")) finally out.close()
  }

  private[llm] def checkMeta(spark: SparkSession, dir: String, n: Int,
      nBuckets: Int): Unit = {
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(dir, "_meta")
    if (!f.exists(p)) return
    val in = f.open(p)
    val txt = try {
      val b = new Array[Byte](64)
      val k = in.read(b)
      new String(b, 0, math.max(k, 0), "UTF-8").trim
    } finally in.close()
    txt.split(" ") match {
      case Array(nS, bS) if nS.toInt != n || bS.toInt != nBuckets =>
        throw new IllegalArgumentException(
          s"phrase index at $dir was built with (n=$nS, nBuckets=$bS); " +
            s"caller passed (n=$n, nBuckets=$nBuckets) — a mismatch " +
            "silently drops matches (postings bucketed mod one modulus, " +
            "pruned mod another)")
      case _ => ()
    }
  }

  /** The postings layer a search reads. */
  private[llm] def readGrams(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/grams").selectExpr("doc_id", "gh", "bucket")

  /** The phrase's rolling n-gram hashes, derived with the SAME native
    * kernel the build used (driver-side, one tiny local projection — hash
    * parity between build and probe is the index's correctness backbone).
    */
  private[llm] def phraseGramHashes(spark: SparkSession, phrase: String,
      n: Int): Seq[Long] = {
    import spark.implicits._
    Seq(phrase).toDF("text")
      .select(TextOps.ngramHashes(col("text"), n).as("g"))
      .head().getSeq[Long](0).distinct
  }

  /** Exact word-aligned phrase search through the stored index, with a
    * PRUNED candidate fetch — the 100 TB read path. Verifying candidates by
    * a semi-join against the FULL documents table is correct but probes
    * the whole corpus text column: per query it re-reads the very bytes
    * the index exists to avoid. This form collects the candidate id set —
    * bounded by construction: a doc qualifies only by holding ALL the
    * phrase's grams, so candidates are the word-aligned matches plus hash
    * collisions — and fetches text through
    * [[graft.store.BloomSkip.readPrunedEq]] on a doc store carrying a
    * `doc_id` Bloom sidecar: the verify reads ONLY files that can hold a
    * candidate (files-read-bounded, asserted in PhraseIndexSpec), plus the
    * kilobyte sidecar.
    *
    * `docsDir` is the document store (flat parquet dir or log table; build its sidecar once with `BloomSkip.write(spark, docsDir,
    * Seq("doc_id"))` — files appended after the sidecar are kept
    * conservatively, never wrongly skipped). Degenerate regimes fall back
    * LOUDLY-DOCUMENTED rather than breaking the bound silently: a phrase
    * shorter than `n` words cannot probe the index (direct verify scan —
    * pick n at or below the shortest phrase you serve), and a stop-phrase
    * matching more than `maxFetch` docs verifies via the semi-join scan —
    * at that selectivity the fetch is corpus-scale whichever way it is
    * expressed, and a >maxFetch literal probe would blow up both the Bloom
    * verdict expression and the row filter's IN-set. `onFetch` receives
    * (filesKept, filesTotal) when the pruned fetch ran — the monitoring
    * hook a production pipeline alerts on.
    */
  def phraseSearchPruned(spark: SparkSession, indexDir: String,
      docsDir: String, phrase: String, n: Int = 3, nBuckets: Int = 64,
      maxFetch: Int = 2048,
      onFetch: (Int, Int) => Unit = (_, _) => ()): DataFrame = {
    checkMeta(spark, indexDir, n, nBuckets)
    val verify = concat(lit(" "), col("text"), lit(" "))
      .contains(s" $phrase ")
    def fullDocs = graft.store.TableStore.read(spark, docsDir)
    val grams = phraseGramHashes(spark, phrase, n)
    if (grams.isEmpty)
      return fullDocs.filter(verify).select("doc_id")
    val buckets = grams.map(g => ((g % nBuckets) + nBuckets) % nBuckets)
      .distinct
    val candidates = readGrams(spark, indexDir)
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("gh").isin(grams: _*))
      .groupBy("doc_id").agg(countDistinct("gh").as("__nh"))
      .filter(col("__nh") === grams.size)
      .select("doc_id")
    // bounded collect: the index guarantees candidates ≈ true matches;
    // maxFetch is the guard for stop-phrases (limit+1 detects overflow
    // without counting the full set)
    val ids = candidates.limit(maxFetch + 1).collect().map(_.getLong(0))
    if (ids.length > maxFetch)
      return fullDocs.join(candidates, Seq("doc_id"), "left_semi")
        .filter(verify).select("doc_id")
    if (ids.isEmpty)
      return fullDocs.select("doc_id").limit(0)
    val pr = graft.store.BloomSkip.readPrunedEq(spark, docsDir, "doc_id",
      ids.toSeq)
    onFetch(pr.filesKept, pr.filesTotal)
    pr.df.filter(col("doc_id").isin(ids.toSeq: _*))
      .filter(verify)
      .select("doc_id")
  }

  val all: Seq[Q] = Seq(

    // ---- S12/L25: indexed word-aligned phrase search ---------------------------
    // The oracle is the full-scan definition; hash equality proves the
    // bucket-pruned postings probe + PRUNED candidate verify loses
    // nothing. After the build, the search is the production read shape:
    // postings buckets (partition filters) → bounded candidate ids →
    // Bloom-pruned text fetch — the corpus text column is never scanned.
    Q("q_phrase_search", Some(
      """SELECT doc_id FROM documents
        |WHERE contains(' ' || text || ' ', ' key agg row ')
        |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val dir = graft.query.Pipelines.demoRoot("graft_phrase").toString
        buildPhraseIndex(docs, s"$dir/index")
        // the doc store the pruned verify fetches from: multi-file so
        // file skipping has grain, + the doc_id Bloom sidecar
        docs.repartitionByRange(16, col("doc_id"))
          .write.parquet(s"$dir/docs")
        graft.store.BloomSkip.write(s, s"$dir/docs", Seq("doc_id"))
        phraseSearchPruned(s, s"$dir/index", s"$dir/docs", "key agg row")
          .orderBy("doc_id")
      })
  )
}
