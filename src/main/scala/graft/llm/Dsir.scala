package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Q
import graft.query.Tables

/** L37: data selection via importance resampling (DSIR, Xie et al. 2023)
  * — the standard "make the raw corpus look like the target corpus"
  * selector: fit two smoothed bag-of-features models (target p, raw q)
  * over hashed n-gram features, weight every raw doc by its
  * log-likelihood ratio `Σ_f c_f · (ln p_f − ln q_f)`, and keep the
  * top-weighted (or Gumbel-resampled) docs. This is the principled form
  * of "quality filtering toward a reference corpus", complementing the
  * absolute quality gates (L10/L11/L26) with a DISTRIBUTIONAL target.
  *
  * Features are unigram + bigram occurrences. `hashBuckets > 0` hashes
  * them into a fixed bucket space (the paper's form — model state is
  * O(buckets) regardless of corpus vocabulary, the 100 TB path);
  * `hashBuckets = 0` keeps exact string features in both models, which
  * is what the DuckDB oracle restates. Its scoring join, however, keys
  * on `xxhash64(f)`, not on the string: two distinct grams whose hashes
  * collide merge their log-ratio terms. That is an accepted risk of
  * 2⁻⁶⁴ per pair of features, so about V²/2⁶⁵ for any collision among
  * V features: nil at fixture vocabularies, no longer negligible near
  * 2³² features.
  *
  * Scale shape: featurization is a ROW-LOCAL counting kernel
  * ([[graft.functions.UnibiCounts]]) — the (doc, f, c) frame is a pure
  * map over the scan with no token-grain fan-out and NO shuffle (the
  * per-doc counts the r11 form bought with the suite's largest exchange
  * are per-row state). Model tables are vocab/bucket-sized; the
  * per-doc scoring join is hinted SHUFFLE_HASH (model as build side) so
  * the doc-feature stream never sorts. Scalars (V, totals) ride a 1-row
  * broadcast. Selection is a bounded TakeOrdered, not a global sort.
  */
object Dsir {

  /** Per-doc feature counts (doc_id, f, c) — ONE row-local counting
    * kernel ([[graft.functions.UnibiCounts]]) + an explode of the
    * already-aggregated map. No token-grain fan-out, no (doc_id, f)
    * count shuffle: a document's feature counts need no cross-row
    * information, so the r11 pipeline (two explode scans unioned +
    * `groupBy(doc_id, f).count()` — the suite's largest shuffle at
    * 15.8 MB) computed per-row state with a corpus-wide exchange. The
    * r11 note here anticipated this ("a true one-pass fix needs a
    * counting aggregate, not a fused explode") — per-ROW counting is
    * even cheaper than a DeclarativeAggregate: nothing crosses rows at
    * all. [[featuresReference]] keeps the HOF explode form as the
    * drift-guard definition (DsirSpec parity law, both key modes).
    */
  private def docFeatureCounts(docs: DataFrame, hashBuckets: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.UnibiCounts
        .unibiCounts(col("text"), hashBuckets)).as(Seq("f", "c")))

  /** The composed-HOF reference form: per-doc unigram+bigram occurrence
    * ROWS (doc_id, f), one row per occurrence — `groupBy(doc_id, f)
    * .count()` over it restates [[docFeatureCounts]] by definition.
    * Kept for the DsirSpec drift-guard.
    */
  private[llm] def featuresReference(docs: DataFrame,
      hashBuckets: Int): DataFrame = {
    val uni = docs.select(col("doc_id"),
      explode(TextOps.words(col("text"))).as("f"))
    val bi = docs.select(col("doc_id"),
      explode(TextOps.ngramsAll(col("text"), 2)).as("f"))
    val all = uni.union(bi)
    if (hashBuckets <= 0) all
    else all.select(col("doc_id"),
      pmod(xxhash64(col("f")), lit(hashBuckets.toLong)).as("f"))
  }

  /** Per-raw-doc DSIR log importance weight `round(Σ c·lr, 6)` —
    * rounded so downstream selection orders identically cross-engine
    * (ln ulp discipline).
    */
  def importanceWeights(docs: DataFrame, isTarget: Column,
      hashBuckets: Int = 0): DataFrame = {
    val docF = docFeatureCounts(docs.filter(!isTarget), hashBuckets)
    val tf = docFeatureCounts(docs.filter(isTarget), hashBuckets)
      .groupBy("f").agg(sum(col("c")).as("tc"))
    val rf = docF.groupBy("f").agg(sum(col("c")).as("rc"))
    val model = tf.join(rf, Seq("f"), "full_outer")
      .select(col("f"), coalesce(col("tc"), lit(0L)).as("tc"),
        coalesce(col("rc"), lit(0L)).as("rc"))
    val stats = model.agg(Tables.cnt.as("v"), sum(col("tc")).as("tt"),
      sum(col("rc")).as("tr"))
    // add-one smoothing over the UNION feature space: every raw-doc
    // feature has a defined target probability even when the target
    // corpus never saw it
    val ratio = model.crossJoin(broadcast(stats))
      .select(col("f"),
        (log((col("tc") + lit(1.0)) / (col("tt") + col("v"))) -
         log((col("rc") + lit(1.0)) / (col("tr") + col("v")))).as("lr"))
    // the scoring join runs on 8-byte feature hashes when features are
    // strings (r12, guide §2.3 "narrower types"): past this join nothing
    // reads `f` — only Σ c·lr per doc — so the doc-feature stream (the
    // corpus-scale side) and the ratio build side shuffle 8-byte keys
    // instead of gram strings (bigrams dominate the bytes). Hash-grain ≡
    // string-grain up to 2⁻⁶⁴ — the engine-wide accepted identity
    // (SubstringDedup / Fuzzy / the stored-BM25 `th` keys). The hashed-
    // bucket mode's `f` is already a long; it joins as-is.
    val (docFJ, ratioJ) =
      if (hashBuckets > 0) (docF, ratio)
      else (docF.select(col("doc_id"), xxhash64(col("f")).as("f"), col("c")),
        ratio.select(xxhash64(col("f")).as("f"), col("lr")))
    docFJ.join(ratioJ.hint("shuffle_hash"), Seq("f"))
      .groupBy("doc_id")
      .agg(round(sum(col("c") * col("lr")), 6).as("logw"))
  }

  /** DSIR's actual sampler: importance RESAMPLING without replacement via
    * the Gumbel-top-k trick — `argtop_k(logw + g_i)` with standard Gumbel
    * noise is an exact sample from softmax(logw) without replacement.
    * The noise here is DETERMINISTIC (inverse-CDF of a per-doc hash
    * uniform), so re-runs/backfills select identical docs — the same
    * no-RNG stance as the engine's other samplers. Plain top-k is the
    * temperature→0 limit (and the oracle-able form).
    */
  def gumbelSelect(docs: DataFrame, isTarget: Column, k: Int,
      hashBuckets: Int = 0): DataFrame = {
    val u = (pmod(xxhash64(col("doc_id")), lit(1000000L)).cast("double") +
      lit(0.5)) / lit(1000000.0)
    val gumbel = -log(-log(u))
    importanceWeights(docs, isTarget, hashBuckets)
      .withColumn("key", col("logw") + gumbel)
      .orderBy(col("key").desc, col("doc_id").asc)
      .limit(k)
      .select("doc_id", "logw")
  }

  val all: Seq[Q] = Seq(

    // ---- L37: DSIR selection toward the src0 distribution, full DuckDB
    // twin (exact string features; scores round-6 before the top-k; rank
    // ties break by doc_id). Top-20 raw docs most target-like.
    Q("q_dsir_select", Some(
      """WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS ws
        |              FROM documents),
        |feat AS (
        |  SELECT doc_id, source, unnest(ws) AS f FROM base
        |  UNION ALL
        |  SELECT doc_id, source,
        |    unnest(list_transform(
        |      generate_series(1, greatest(len(ws) - 1, 0)),
        |      i -> ws[i] || ' ' || ws[i+1])) AS f
        |  FROM base),
        |docf AS (SELECT doc_id, f, count(*) AS c FROM feat
        |         WHERE source <> 'src0' GROUP BY doc_id, f),
        |tfm AS (SELECT f, count(*) AS tc FROM feat
        |        WHERE source = 'src0' GROUP BY f),
        |rfm AS (SELECT f, sum(c) AS rc FROM docf GROUP BY f),
        |model AS (
        |  SELECT coalesce(tfm.f, rfm.f) AS f, coalesce(tc, 0) AS tc,
        |    coalesce(rc, 0) AS rc
        |  FROM tfm FULL JOIN rfm ON tfm.f = rfm.f),
        |st AS (SELECT count(*) AS v, sum(tc) AS tt, sum(rc) AS tr
        |       FROM model),
        |ratio AS (
        |  SELECT f, ln((tc + 1.0::DOUBLE) / (tt + v))
        |           - ln((rc + 1.0::DOUBLE) / (tr + v)) AS lr
        |  FROM model, st),
        |w AS (SELECT doc_id, round(sum(c * lr), 6) AS logw
        |      FROM docf JOIN ratio USING (f) GROUP BY doc_id),
        |r AS (SELECT doc_id, logw, row_number() OVER (
        |        ORDER BY logw DESC, doc_id) AS rn FROM w)
        |SELECT doc_id, logw FROM r WHERE rn <= 20
        |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        importanceWeights(docs, col("source") === "src0")
          .orderBy(col("logw").desc, col("doc_id").asc)
          .limit(20)
          .orderBy("doc_id")
      })
  )
}
