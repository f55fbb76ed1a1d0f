package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.query.Tables

/** Ranked text retrieval + hybrid lexical/semantic fusion — the curation
  * stack's search surface (reference: the gharchive notebook's filter
  * queries are exact-match only; ranked retrieval is what a training-data
  * pipeline needs for eval-set mining, targeted decontamination review,
  * and "more like this" corpus exploration).
  *
  * - [[bm25]]: Okapi BM25 (Robertson k1/b form) for a BATCH of queries in
  *   one corpus pass.
  * - [[hybridRrf]]: reciprocal-rank fusion (Cormack et al.'s RRF, the
  *   standard hybrid-search combiner) of a BM25 ranking and an exact
  *   cosine ranking over a shared id space.
  *
  * Scale shape (100 TB): each corpus pass is a narrow codegen'd
  * tokenize whose postings are immediately semi-joined against the
  * (broadcast) query-term set, so the only shuffle carries matched
  * (term, doc) pairs with map-side partial aggregation — the ad-hoc
  * analog of an inverted-index seek. The df branch and the scoring
  * branch each run that pass (column pruning narrows the df branch, so
  * exchange reuse cannot unify them; materializing the shared frame was
  * A/B-measured SLOWER in all forms — see the note at `tf`); when the
  * per-batch scans dominate, use the stored index ([[bm25Stored]]). Per-term
  * document frequencies and the corpus length stats are tiny aggregates
  * that re-attach by broadcast. Ranking never sorts a corpus-sized frame:
  * per-query top-k runs the [[graft.plans.TopK]] heap plan (bounded
  * exchange), and rank numbers attach via a window over the ALREADY
  * k-bounded lists. For a standing high-QPS index, pair with
  * [[PhraseIndex]] (stored postings) — this module is the index-free
  * one-pass form.
  */
object Retrieval {

  /** Okapi BM25 scores for a batch of queries, top `k` docs per query.
    *
    * `queries`: (query_id: long, terms: array&lt;string&gt;) — one row per
    * query; term multiplicity is ignored (set semantics, the common
    * engine choice). The batch is broadcast: queries-per-batch is
    * bounded (the contract every anchor/eval batch in this engine
    * documents), the corpus is not.
    *
    * Output: (query_id, doc_id, bm25, rank) with rank 1..k by
    * (bm25 desc, doc_id asc); bm25 is rounded to 6 decimals BEFORE
    * ranking so the order is reproducible cross-engine (ln ulp drift —
    * the oracle-design rule).
    *
    * idf uses the non-negative `ln(1 + (N - df + 0.5)/(df + 0.5))`
    * variant (Lucene's form), so scores stay monotone in tf even for
    * terms in over half the corpus.
    */
  def bm25(docs: DataFrame, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(col("terms"))).as("term"))
    val allTerms = qterms.select("term").distinct()
    // one corpus scan: tokenize → keep only query-term postings (broadcast
    // semi-join — the seek) → per-(term, doc) tf with the doc length
    // riding along (size(ws) is O(1) per row; the split itself stays in
    // the Generate's child and evaluates once per doc — the
    // kernel-past-Generate rule)
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val postings = base
      .select(col("doc_id"), size(col("ws")).as("dl"),
        explode(col("ws")).as("term"))
      .join(broadcast(allTerms), Seq("term"), "left_semi")
    // NOT materialized — the r12 adjudication of the r11 eager
    // localCheckpoint the driver measured +38%/+36% slower. Three forms
    // were A/B'd interleaved, cold JVM per leg, best-of-2 (sf0.1):
    //   lazy            1.88/1.94/1.90 s  shuffle 4.02 MB  input 0.15 MB
    //   localCheckpoint 2.77/2.03/1.82 s  shuffle 2.84 MB  input 25.2 MB
    //   persist(M&D)    2.23/2.92/2.49 s  shuffle 7.17 MB  input 1.99 MB
    // The lazy form's duplicated tf subtree is real (column pruning
    // narrows the df branch, so its exchange canonicalizes differently
    // and ReuseExchange cannot unify — verified in the executed plan),
    // i.e. the ad-hoc batch pays TWO tokenize passes; but the snap's
    // blocking materialization job + block write/read traffic costs more
    // than the saved pass (the corpus tokenize is a cheap codegen'd scan;
    // the barrier is not), and the cache's columnar ser/deser + AQE
    // isolation costs more still. At a scale where the second tokenize
    // pass dominates, the answer is the STORED index ([[bm25Stored]] —
    // one build pass amortized over every batch), not a per-call snap.
    val tf = postings.groupBy("term", "doc_id")
      .agg(Tables.cnt.as("tf"), first(col("dl")).as("dl"))
    // df over matched postings IS the corpus-wide df for those terms
    val dfs = tf.groupBy("term").agg(Tables.cnt.as("df"))
    // corpus length stats: one scalar row, broadcast-crossed (the registry
    // plan lint's provably-1-row BNLJ shape)
    val stats = base.agg(Tables.cnt.as("n"),
      avg(size(col("ws"))).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(idf * norm), 6).as("bm25"))
    val top = graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("bm25").desc, col("doc_id").asc), k)
    // rank over the k-bounded per-query lists only — never the full
    // match set (that window's partitions would be corpus-sized)
    top.withColumn("rank", row_number().over(Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("doc_id").asc)).cast("long"))
  }

  /** Build a stored BM25 posting index: the standing-index form of
    * [[bm25]], for the high-QPS regime where the ad-hoc one-pass scan
    * (100 TB per query batch) is the wrong trade. Same split as
    * [[PhraseIndex]]: pay one corpus pass at build, then every query
    * batch reads only its terms' buckets.
    *
    * Layout under `dir`:
    *  - `postings/` — (th = xxhash64(term), doc_id, tf, dl), PARTITIONED
    *    BY `bucket = pmod(th, nBuckets)`. Terms ride as 8-byte hashes,
    *    never strings (hash-grain ≡ string-grain up to 2⁻⁶⁴ — the
    *    engine-wide accepted identity, same as SubstringDedup).
    *  - `stats/` — one row (n, dl_sum).
    *
    * There is deliberately NO stored df sidecar: a term's corpus-wide df
    * IS the row count of its probed postings (the same identity the
    * ad-hoc [[bm25]] exploits), so the query derives df from data it
    * already read — one less structure to build and store.
    *
    * The build is one tokenize + one (th, doc) partial-agg shuffle —
    * the same work the ad-hoc form pays PER BATCH, amortized over every
    * later search. At 100 TB pick `nBuckets` large (e.g. 4096) so a
    * query batch's buckets are a small fraction of the postings.
    */
  def buildBm25Index(docs: DataFrame, dir: String, nBuckets: Int = 64): Unit = {
    val base = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    base
      .select(col("doc_id"), size(col("ws")).as("dl"),
        explode(col("ws")).as("term"))
      .groupBy(xxhash64(col("term")).as("th"), col("doc_id"))
      .agg(Tables.cnt.as("tf"), first(col("dl")).as("dl"))
      .withColumn("bucket", pmod(col("th"), lit(nBuckets)))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/postings")
    base.agg(Tables.cnt.as("n"), sum(size(col("ws"))).as("dl_sum"))
      .write.mode("overwrite").parquet(s"$dir/stats")
  }

  /** BM25 top-`k` per query through the stored index — no corpus scan.
    * The query batch's distinct term hashes (bounded: queries-per-batch
    * is the engine's documented anchor-batch contract) become partition
    * filters + an IN probe on `postings/` and `dfs/`; scoring and
    * ranking are identical to [[bm25]] (same rounding barrier, same
    * TopK heap + k-bounded rank window), so the two forms agree
    * bit-for-bit on any corpus (drift-guarded in RetrievalSpec).
    *
    * A term never seen at build time simply matches no postings — the
    * correct BM25 semantics (its score contribution is zero everywhere).
    */
  def bm25Stored(spark: SparkSession, dir: String, queries: DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      nBuckets: Int = 64): DataFrame = {
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(col("terms"))).as("term"))
      .withColumn("th", xxhash64(col("term")))
    // driver-side term-hash list: one tiny collect over the broadcast-
    // bounded query batch — it is what compiles into partition filters
    val ths = qterms.select("th").distinct().collect().map(_.getLong(0))
    val buckets = ths.map(h => ((h % nBuckets) + nBuckets) % nBuckets).distinct
    // the bucket filter reaches the parquet scan as a partition filter
    // (plan-asserted in RetrievalSpec)
    val tf = spark.read.parquet(s"$dir/postings")
      .select("th", "doc_id", "tf", "dl", "bucket")
      .filter(col("bucket").isin(buckets.toSeq: _*)) // partition pruning
      .filter(col("th").isin(ths.toSeq: _*))
    // NOT snapped (unlike the ad-hoc form's corpus-scan tf): both consumers
    // re-read only the pruned buckets — a bounded, index-sized read — and a
    // checkpoint here would hide the bucket partition filter from the
    // executed plan (the RetrievalSpec scale-law assert)
    // df is DERIVED from the probed postings (a term's matched-posting
    // count IS its corpus-wide df — the ad-hoc form's identity); no
    // stored sidecar
    val dfs = tf.groupBy("th").agg(Tables.cnt.as("df"))
    // the global Aggregate is PROVABLY single-row (the plan lint's shape)
    val stats = spark.read.parquet(s"$dir/stats")
      .agg(sum(col("n")).as("n"),
        (sum(col("dl_sum")) / sum(col("n"))).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val norm = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    val scored = tf
      .join(broadcast(qterms.select("query_id", "th")), Seq("th"))
      .join(broadcast(dfs), Seq("th"))
      .crossJoin(broadcast(stats))
      .groupBy("query_id", "doc_id")
      .agg(round(sum(idf * norm), 6).as("bm25"))
    val top = graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("bm25").desc, col("doc_id").asc), k)
    top.withColumn("rank", row_number().over(Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("doc_id").asc)).cast("long"))
  }

  /** Exact cosine ranking of a broadcast query-vector batch against the
    * corpus: top `k` per query by (round(cos, 6) desc, vec_id asc),
    * heap-ranked ([[graft.plans.TopK]] — the exchange carries at most
    * k rows per query per map partition; the window form would sort
    * corpus-sized partitions). The query×corpus product is a bounded
    * broadcast nested loop: #queries is a fixed batch, as in
    * [[VectorOps.bruteForceTopK]]. Self-pairs stay in (rank 1, cos 1) —
    * "docs like X" listing X first.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"),
      VectorOps.toDouble(col("embedding")).as("qv"))
    val t = corpus.select(col("vec_id"),
      VectorOps.toDouble(col("embedding")).as("tv"))
    val scored = t.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        round(VectorOps.cosine(col("qv"), col("tv")), 6).as("cos"))
    val top = graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("cos").desc, col("vec_id").asc), k)
    top.withColumn("rank", row_number().over(Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)).cast("long"))
  }

  /** Hybrid retrieval: fuse a BM25 ranking and a cosine ranking with
    * reciprocal-rank fusion — `rrf = Σ 1/(c + rank)` over the lists a doc
    * appears in (c = 60, the RRF paper's constant). Rank-based fusion
    * needs no score calibration between the lexical and vector spaces,
    * which is why it is the default hybrid combiner in every major search
    * engine. `docs` and `vectors` must share the id space
    * (doc_id ≡ vec_id — the engine's multimodal-corpus convention).
    *
    * Both inputs are top-`n` lists (bounded per query), so the fusion
    * join and final top-`k` touch only k·queries-scale frames.
    */
  def hybridRrf(docs: DataFrame, vectors: DataFrame, queryIds: Seq[Long],
      k: Int, n: Int = 50, c: Int = 60): DataFrame = {
    val textQueries = docs
      .filter(col("doc_id").isin(queryIds: _*))
      .select(col("doc_id").as("query_id"),
        array_distinct(split(col("text"), " ")).as("terms"))
    val vecQueries = vectors.filter(col("vec_id").isin(queryIds: _*))
    val bmTop = bm25(docs, textQueries, n)
      .select(col("query_id"), col("doc_id"), col("rank").as("bm_rank"))
    val vecTop = cosineTopK(vectors, vecQueries, n)
      .select(col("query_id"), col("vec_id").as("doc_id"),
        col("rank").as("vec_rank"))
    val fused = bmTop.join(vecTop, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        round(
          coalesce(lit(1.0) / (lit(c) + col("bm_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("vec_rank")), lit(0.0)),
          6).as("rrf"))
    graft.plans.TopK.perKey(fused, Seq("query_id"),
      Seq(col("rrf").desc, col("doc_id").asc), k)
  }

  val all: Seq[Q] = Seq(

    // ---- L34: BM25 ranked retrieval, 5-query batch, full DuckDB twin.
    // Query q = doc q's distinct words (self-derived, fixture-regen-proof);
    // both engines round scores to 6 decimals BEFORE ranking and break all
    // ties by doc_id, so ranks hash-match exactly.
    Q("q_bm25_topk", Some(
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws
        |              FROM documents),
        |q AS (SELECT doc_id AS query_id, unnest(list_distinct(ws)) AS term
        |      FROM base WHERE doc_id < 5),
        |stats AS (SELECT count(*) AS n, avg(len(ws)) AS avgdl FROM base),
        |post AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM base),
        |tf AS (SELECT term, doc_id, count(*) AS tf, any_value(dl) AS dl
        |       FROM post WHERE term IN (SELECT DISTINCT term FROM q)
        |       GROUP BY term, doc_id),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |         round(sum(ln(1 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
        |           * (tf.tf * 2.2
        |              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))), 6)
        |           AS bm25
        |       FROM q JOIN tf ON q.term = tf.term
        |              JOIN dfx ON tf.term = dfx.term, stats
        |       GROUP BY q.query_id, tf.doc_id),
        |r AS (SELECT query_id, doc_id, bm25, row_number() OVER (
        |        PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
        |      FROM sc)
        |SELECT query_id, doc_id, bm25, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val queries = docs.filter(col("doc_id") < 5)
          .select(col("doc_id").as("query_id"),
            array_distinct(split(col("text"), " ")).as("terms"))
        bm25(docs, queries, 10).orderBy("query_id", "rank")
      }),

    // ---- L34s: BM25 through the STORED posting index — same DuckDB twin
    // as q_bm25_topk (the oracle is the definition; hash equality proves
    // the bucket-pruned 8-byte-hash probe path loses nothing vs the
    // one-pass string-grain scan). Each run builds the index, then
    // probes it.
    Q("q_bm25_stored", Some(
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws
        |              FROM documents),
        |q AS (SELECT doc_id AS query_id, unnest(list_distinct(ws)) AS term
        |      FROM base WHERE doc_id >= 5 AND doc_id < 10),
        |stats AS (SELECT count(*) AS n, avg(len(ws)) AS avgdl FROM base),
        |post AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM base),
        |tf AS (SELECT term, doc_id, count(*) AS tf, any_value(dl) AS dl
        |       FROM post WHERE term IN (SELECT DISTINCT term FROM q)
        |       GROUP BY term, doc_id),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |         round(sum(ln(1 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
        |           * (tf.tf * 2.2
        |              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))), 6)
        |           AS bm25
        |       FROM q JOIN tf ON q.term = tf.term
        |              JOIN dfx ON tf.term = dfx.term, stats
        |       GROUP BY q.query_id, tf.doc_id),
        |r AS (SELECT query_id, doc_id, bm25, row_number() OVER (
        |        PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS rank
        |      FROM sc)
        |SELECT query_id, doc_id, bm25, rank FROM r WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val dir = graft.query.Pipelines.demoRoot("graft_bm25").toString
        buildBm25Index(docs, dir)
        val queries = docs.filter(col("doc_id") >= 5 && col("doc_id") < 10)
          .select(col("doc_id").as("query_id"),
            array_distinct(split(col("text"), " ")).as("terms"))
        bm25Stored(s, dir, queries, 10).orderBy("query_id", "rank")
      }),

    // ---- L35: hybrid BM25 + cosine retrieval under reciprocal-rank
    // fusion, full DuckDB twin (the cosine CTE is the q_ann_* oracle's
    // list-arithmetic form; ranks land on round-6 scores in both engines;
    // 1/(c+rank) divisions are double-exact and identical). Top-10 per
    // query from two top-50 lists.
    Q("q_hybrid_rrf", Some(
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws
        |              FROM documents),
        |q AS (SELECT doc_id AS query_id, unnest(list_distinct(ws)) AS term
        |      FROM base WHERE doc_id < 5),
        |stats AS (SELECT count(*) AS n, avg(len(ws)) AS avgdl FROM base),
        |post AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS term FROM base),
        |tf AS (SELECT term, doc_id, count(*) AS tf, any_value(dl) AS dl
        |       FROM post WHERE term IN (SELECT DISTINCT term FROM q)
        |       GROUP BY term, doc_id),
        |dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |sc AS (SELECT q.query_id, tf.doc_id,
        |         round(sum(ln(1 + (stats.n - dfx.df + 0.5) / (dfx.df + 0.5))
        |           * (tf.tf * 2.2
        |              / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / stats.avgdl)))), 6)
        |           AS bm25
        |       FROM q JOIN tf ON q.term = tf.term
        |              JOIN dfx ON tf.term = dfx.term, stats
        |       GROUP BY q.query_id, tf.doc_id),
        |br AS (SELECT query_id, doc_id, row_number() OVER (
        |         PARTITION BY query_id ORDER BY bm25 DESC, doc_id) AS bm_rank
        |       FROM sc),
        |b50 AS (SELECT * FROM br WHERE bm_rank <= 50),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |      FROM embeddings),
        |vq AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
        |cs AS (SELECT vq.vec_id AS query_id, e.vec_id AS doc_id,
        |         round(list_sum(list_transform(generate_series(1, 64),
        |             i -> vq.v[i] * e.v[i]))
        |           / (sqrt(list_sum(list_transform(vq.v, x -> x * x)))
        |              * sqrt(list_sum(list_transform(e.v, x -> x * x)))), 6)
        |           AS cos
        |       FROM vq, e),
        |vr AS (SELECT query_id, doc_id, row_number() OVER (
        |         PARTITION BY query_id ORDER BY cos DESC, doc_id) AS vec_rank
        |       FROM cs),
        |v50 AS (SELECT * FROM vr WHERE vec_rank <= 50),
        |f AS (SELECT coalesce(b50.query_id, v50.query_id) AS query_id,
        |        coalesce(b50.doc_id, v50.doc_id) AS doc_id,
        |        round(coalesce(1.0::DOUBLE / (60 + b50.bm_rank), 0)
        |            + coalesce(1.0::DOUBLE / (60 + v50.vec_rank), 0), 6)
        |          AS rrf
        |      FROM b50 FULL JOIN v50
        |        ON b50.query_id = v50.query_id AND b50.doc_id = v50.doc_id),
        |fr AS (SELECT query_id, doc_id, rrf, row_number() OVER (
        |         PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rn
        |       FROM f)
        |SELECT query_id, doc_id, rrf FROM fr WHERE rn <= 10
        |ORDER BY query_id, doc_id""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val vectors = Tables(s, d, "embeddings")
        hybridRrf(docs, vectors, queryIds = Seq(0L, 1L, 2L, 3L, 4L),
          k = 10, n = 50)
          .orderBy("query_id", "doc_id")
      })
  )
}
