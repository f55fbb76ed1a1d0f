package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Q
import graft.query.Tables

/** Training-pipeline sampling operators — the assignment/selection layer a
  * large-scale corpus pipeline needs between dedup and training: stable
  * train/val/test splits and per-stratum subsampling. The reference has no
  * analog (its scope ends at analytics tables); these are north-star ops
  * like L1-L5.
  *
  * Everything here is DETERMINISTIC: splits must survive re-runs, backfills,
  * and replication across clusters, so no RNG state is ever involved —
  * bucket membership is a pure function of the row's key. At 100 TB both
  * ops are embarrassingly parallel: the split is a per-row codegen'd
  * expression (no shuffle at all); the stratified sample runs on the
  * TopKPerKey heap plan, shuffling at most k rows per stratum per map
  * partition instead of the corpus.
  */
object Sampling {

  /** Deterministic per-stratum sample: the `perStratum` lowest-ranked rows
    * of each stratum under an explicit stable ordering. With `orderKey` =
    * a hash of the id this is a uniform stratified sample; with a quality
    * score it is top-k-per-stratum curation.
    *
    * Executes on the [[graft.plans.TopKPerKey]] heap plan, not a window:
    * the window form (`row_number` + filter) shuffles and sorts EVERY row,
    * while the heap plan's map-side pass caps the exchange at `perStratum`
    * rows per stratum per partition — for a 100 TB corpus sampled to
    * k·strata rows, the shuffle shrinks from the corpus to roughly the
    * sample. Semantics are identical (window-equivalence is pinned by
    * `TopKPerKeySpec` and the `q_sample_stratified` window-form oracle).
    */
  def stratifiedTake(df: org.apache.spark.sql.DataFrame, stratum: String,
      orderKey: Column, perStratum: Int): org.apache.spark.sql.DataFrame =
    // orderKey passes through UNWRAPPED: perKey honors an embedded
    // .desc/.asc and defaults plain columns to ascending — wrapping in
    // .asc here would nest a caller's `score.desc` inside a second
    // SortOrder (unevaluable, and semantically bottom-k)
    graft.plans.TopK.perKey(df, Seq(stratum), Seq(orderKey), perStratum)

  // Oracle-twinned arithmetic bucket: DuckDB has no xxhash64, so the
  // SQL-verified query pins the split SEMANTICS (deterministic, disjoint,
  // covering, re-run stable) through a multiplicative hash both engines
  // compute identically in 64-bit-safe range.
  private def arithBucket(id: Column): Column =
    (id % 1000003L) * 31L % 100L

  /** Temperature-scaled source mixing (the mT5/multilingual α-sampling
    * recipe): source s gets a quota proportional to `n_s^alpha` —
    * alpha = 1 reproduces the natural distribution, alpha → 0 approaches
    * uniform-over-sources, values in between damp head sources and boost
    * tail sources, which is how multilingual/multi-domain training mixes
    * are actually built. Returns one row per source:
    * (source, n_avail, quota, n_kept, id_sum) where id_sum checksums the
    * selected doc set.
    *
    * Selection within a source is the deterministic hash order (same
    * stance as every sampler here — no RNG); quotas use a round(·, 6)
    * barrier on the normalized weight so the floor is reproducible
    * cross-engine. A tail source with fewer docs than its quota
    * contributes everything it has (downsampling-only mixing; true
    * upsampling is a repeat-the-rows concern for the data loader).
    *
    * Scale shape: one count aggregate (sources-sized), a 1-row broadcast
    * total, and a [[graft.plans.TopK]] heap pass capped at `budget` rows
    * per source per map partition — no corpus-sized window sort; the
    * rank window runs over the already-budget-bounded lists.
    */
  def temperatureMix(docs: org.apache.spark.sql.DataFrame, budget: Int,
      alpha: Double): org.apache.spark.sql.DataFrame = {
    // `counts` is deliberately NOT snapped despite 3-4 lazy rebuilds: the
    // r11 A/B measured localCheckpoint on it (here, in epochMix, and in
    // the q_mix_epochs twin) at +8-15% — the map-side-combined count scan
    // is cheaper than the eager barrier + block write it would save (the
    // labelPropagation lesson; at larger SFs AQE reuses the exchange).
    val counts = docs.groupBy("source").agg(Tables.cnt.as("n"))
    val tot = counts.agg(sum(pow(col("n"), lit(alpha))).as("tw"))
    val quota = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_avail"),
        floor(lit(budget) * round(pow(col("n"), lit(alpha)) / col("tw"), 6))
          .cast("long").as("quota"))
    val ranked = graft.plans.TopK.perKey(
      docs.select(col("doc_id"), col("source"),
        ((col("doc_id") * 31L) % 1000003L).as("h")),
      Seq("source"), Seq(col("h").asc, col("doc_id").asc), budget)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("h").asc, col("doc_id").asc)).cast("long"))
    val sel = ranked
      .join(broadcast(quota.select("source", "quota")), Seq("source"))
      .filter(col("rk") <= col("quota"))
      .groupBy("source")
      .agg(Tables.cnt.as("n_kept"), sum(col("doc_id")).as("id_sum"))
    quota.join(sel, Seq("source"), "left")
      .select(col("source"), col("n_avail"), col("quota"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum"))
      .orderBy("source")
  }

  /** Epoch-expanded temperature mixing — the UPSAMPLING completion of
    * [[temperatureMix]]: when a source's α-quota exceeds its document
    * count, its docs repeat across epochs (the Llama/RedPajama recipe —
    * "Wikipedia for ~5 epochs"), instead of silently truncating at one
    * pass. Every source s with quota q and n docs emits each doc
    * `q div n` times, plus one extra epoch for the `q mod n` docs lowest
    * in deterministic hash order — so exactly q rows per source come out
    * and re-runs are bit-identical.
    *
    * Output: the exploded training frame (doc_id, source, epoch) with
    * epoch 1..reps per doc — what a sequence-packing / shard-shuffle
    * stage downstream consumes.
    *
    * Scale shape: the corpus-side work is ONE rank shuffle partitioned
    * by source (the stratifiedTake window precedent — remainder
    * assignment needs a total per-source rank, and `q mod n` can be
    * ~n so a heap pass cannot bound it); quotas are a sources-sized
    * aggregate + 1-row broadcast; the explode is map-side and the OUTPUT
    * is budget-sized, not corpus-sized — the frame on the wire after the
    * rank tracks the training budget.
    */
  def epochMix(docs: org.apache.spark.sql.DataFrame, budget: Int,
      alpha: Double): org.apache.spark.sql.DataFrame = {
    val counts = docs.groupBy("source").agg(Tables.cnt.as("n"))
    val tot = counts.agg(sum(pow(col("n"), lit(alpha))).as("tw"))
    val quota = counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n").as("n_avail"),
        floor(lit(budget) * round(pow(col("n"), lit(alpha)) / col("tw"), 6))
          .cast("long").as("quota"))
    val ranked = docs.select(col("doc_id"), col("source"),
        ((col("doc_id") * 31L) % 1000003L).as("h"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("source")
          .orderBy(col("h").asc, col("doc_id").asc)).cast("long"))
    ranked.join(broadcast(quota), Seq("source"))
      .withColumn("reps", expr("quota DIV n_avail") +
        when(col("rk") <= col("quota") % col("n_avail"), 1L).otherwise(0L))
      .filter(col("reps") >= 1L)
      .select(col("doc_id"), col("source"),
        explode(sequence(lit(1L), col("reps"))).as("epoch"))
  }

  val all: Seq[Q] = Seq(

    // ---- deterministic train/test split assignment -----------------------------
    Q("q_train_test_split", Some(
      """SELECT split, count(*) AS n, min(doc_id) AS min_id
        |FROM (SELECT doc_id,
        |        CASE WHEN (doc_id % 1000003) * 31 % 100 < 90
        |             THEN 'train' ELSE 'test' END AS split
        |      FROM documents)
        |GROUP BY split ORDER BY split""".stripMargin),
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"),
          when(arithBucket(col("doc_id")) < 90, "train").otherwise("test")
            .as("split"))
        .groupBy("split")
        .agg(count(lit(1)).as("n"), min("doc_id").as("min_id"))
        .orderBy("split")),

    // ---- weighted source mixing: per-source sampling rates ---------------------
    // The corpus-mixing step of a training pipeline: each source is kept at
    // its target rate (here src0 fully, src1-src3 at 50%, the rest at 20%)
    // by the same deterministic per-row bucket as the split — no RNG, no
    // shuffle, re-run/backfill stable, and the mix is reproducible from the
    // code alone.
    Q("q_mix_weighted", Some(
      """SELECT source, count(*) AS n_kept, min(doc_id) AS min_id
        |FROM documents
        |WHERE (doc_id % 1000003) * 31 % 100 <
        |  CASE WHEN source = 'src0' THEN 100
        |       WHEN source IN ('src1','src2','src3') THEN 50
        |       ELSE 20 END
        |GROUP BY source ORDER BY source""".stripMargin),
      (s, d) => Tables(s, d, "documents")
        .withColumn("rate",
          when(col("source") === "src0", 100)
            .when(col("source").isin("src1", "src2", "src3"), 50)
            .otherwise(20))
        .filter(arithBucket(col("doc_id")) < col("rate"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("min_id"))
        .orderBy("source")),

    // ---- deterministic training-shard shuffle ----------------------------------
    // Every row gets a shard (hash bucket) and a position within it under a
    // scrambled-but-deterministic order, so the training stream is
    // pseudo-random yet bit-reproducible — no RNG state. Arithmetic hash for
    // cross-engine parity, 8 shards: per shard, the doc count, the doc
    // that leads the shard's training order, and a position-weighted
    // checksum — equal checksums prove BOTH engines derive the identical
    // full permutation, not just the same membership.
    Q("q_shard_shuffle", Some(
      """WITH s AS (
        |  SELECT doc_id, (doc_id % 1000003) * 31 % 8 AS shard,
        |         (doc_id * 37) % 1000003 AS ord
        |  FROM documents),
        |p AS (
        |  SELECT shard, doc_id, row_number() OVER (
        |    PARTITION BY shard ORDER BY ord, doc_id) AS pos
        |  FROM s)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN pos = 1 THEN doc_id ELSE 0 END) AS BIGINT)
        |    AS first_doc,
        |  CAST(sum(pos * doc_id) AS BIGINT) AS checksum
        |FROM p GROUP BY shard ORDER BY shard""".stripMargin),
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy("ord", "doc_id")
        Tables(s, d, "documents")
          .select(col("doc_id"),
            ((col("doc_id") % 1000003L) * 31L % 8L).as("shard"),
            ((col("doc_id") * 37L) % 1000003L).as("ord"))
          .withColumn("pos", row_number().over(w).cast("long"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("pos") === 1L, col("doc_id")).otherwise(0L))
              .as("first_doc"),
            sum(col("pos") * col("doc_id")).as("checksum"))
          .orderBy("shard")
      }),

    // ---- stratified sample: k docs per language, stable under re-runs ----------
    Q("q_sample_stratified", Some(
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY (doc_id * 31) % 1000003, doc_id) AS rk
        |  FROM documents) WHERE rk <= 20
        |ORDER BY lang, doc_id""".stripMargin),
      (s, d) => stratifiedTake(
        Tables(s, d, "documents"),
        "lang",
        // scrambled-but-deterministic order stands in for the hash order
        // the oracle can't reproduce; tie-break on doc_id for totality
        struct((col("doc_id") * 31L) % 1000003L, col("doc_id")),
        20)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")),

    // ---- L6+: weighted sampling WITHOUT replacement (Efraimidis-Spirakis) ------
    // Top-k by priority u^(1/w) — equivalently argmax ln(u)/w — gives an
    // exact weight-proportional sample without replacement in ONE pass:
    // here the 20 sample slots lean toward long documents (w = n_chars)
    // but long docs can't be drawn twice, the property rate-based mixing
    // (q_mix_weighted) can't provide. u derives from the oracle-twinned
    // arithmetic hash (deterministic, re-run stable, no RNG); the top-k is
    // a TakeOrdered — no shuffle, no sort of the corpus. Priorities round
    // to 9 decimals with a doc_id tiebreak so the cross-engine `ln` ulp
    // can't flip the selection.
    Q("q_weighted_sample", Some(
      """SELECT doc_id, source, n_chars,
        |  round(ln((((doc_id % 1000003) * 2654435761) % 1000000007 + 1)
        |            / 1000000008.0) / n_chars, 9) AS priority
        |FROM documents
        |ORDER BY priority DESC, doc_id LIMIT 20""".stripMargin),
      (s, d) => {
        val u = (((col("doc_id") % 1000003L) * 2654435761L) % 1000000007L
          + lit(1L)) / lit(1000000008.0)
        Tables(s, d, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            round(log(u) / col("n_chars"), 9).as("priority"))
          .orderBy(desc("priority"), asc("doc_id"))
          .limit(20)
      }),

    // ---- L6+: consistent per-key sampling (bottom-k by hash) ----------------
    // The sample a pipeline can re-draw bit-identically on every rerun AND
    // keep stable under appends to OTHER keys: per key, the k rows with
    // the smallest md5(id) — hash order is a fixed random permutation, so
    // this is a uniform k-sample with no RNG state, and adding rows only
    // evicts from the affected key's bottom-k. Rides the TopKPerKey heap
    // plan: each partition forwards at most k candidates per key — no
    // window sort of the corpus (the row_number form shuffles everything).
    // md5 (not xxhash64) because both engines produce identical hex.
    Q("q_sample_bottomk", Some(
      """SELECT event_type, event_id FROM (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events) t WHERE rn <= 5
        |ORDER BY event_type, event_id""".stripMargin),
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("event_type"), col("event_id"),
            md5(col("event_id").cast("string")).as("h"))
        graft.plans.TopK.perKey(ev, Seq("event_type"),
            Seq(col("h").asc, col("event_id").asc), k = 5)
          .select(col("event_type"), col("event_id"))
          .orderBy("event_type", "event_id")
      }),

    // ---- L38: temperature-scaled source mixing (α-sampling) -----------------
    // Full DuckDB twin of [[temperatureMix]] at alpha = 0.5, budget = 200:
    // quotas land on floor(budget · round-6 weight) — the rounding barrier
    // makes the floor reproducible cross-engine (pow/ln ulp discipline) —
    // and the id_sum checksum proves the SELECTED SETS are identical, not
    // just their sizes.
    Q("q_mix_temperature", Some(
      """WITH counts AS (SELECT source, count(*) AS n FROM documents
        |                GROUP BY source),
        |tot AS (SELECT sum(pow(n, 0.5)) AS tw FROM counts),
        |quota AS (
        |  SELECT source, n AS n_avail,
        |    CAST(floor(200 * round(pow(n, 0.5) / tw, 6)) AS BIGINT) AS quota
        |  FROM counts, tot),
        |ranked AS (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY (doc_id * 31) % 1000003, doc_id) AS rk
        |  FROM documents),
        |sel AS (
        |  SELECT r.source, count(*) AS n_kept,
        |    CAST(sum(r.doc_id) AS BIGINT) AS id_sum
        |  FROM ranked r JOIN quota q USING (source)
        |  WHERE r.rk <= q.quota GROUP BY r.source)
        |SELECT q.source, q.n_avail, q.quota,
        |  coalesce(s.n_kept, 0) AS n_kept, coalesce(s.id_sum, 0) AS id_sum
        |FROM quota q LEFT JOIN sel s USING (source)
        |ORDER BY q.source""".stripMargin),
      (s, d) => temperatureMix(Tables(s, d, "documents"),
        budget = 200, alpha = 0.5)),

    // ---- L38+: epoch-expanded (upsampling) temperature mix ------------------
    // budget=2000 straddles the fixture sizes: at sf0.001 (500 docs) every
    // source upsamples across epochs, at sf0.01 (5000 docs) the same call
    // downsamples — both regimes oracle-checked by the ONE key. The DuckDB
    // twin restates the exploded frame in closed form (Σ_{e=1..r} e =
    // r(r+1)/2), so hash equality proves the explode emitted exactly the
    // epochs 1..reps per doc and nothing else.
    Q("q_mix_epochs", Some(
      """WITH counts AS (SELECT source, count(*) AS n FROM documents
        |                GROUP BY source),
        |tot AS (SELECT sum(pow(n, 0.5)) AS tw FROM counts),
        |quota AS (
        |  SELECT source, n AS n_avail,
        |    CAST(floor(2000 * round(pow(n, 0.5) / tw, 6)) AS BIGINT) AS quota
        |  FROM counts, tot),
        |ranked AS (
        |  SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |    ORDER BY (doc_id * 31) % 1000003, doc_id) AS rk
        |  FROM documents),
        |rep AS (
        |  SELECT r.source, r.doc_id,
        |    q.quota // q.n_avail
        |      + CASE WHEN r.rk <= q.quota % q.n_avail THEN 1 ELSE 0 END AS reps
        |  FROM ranked r JOIN quota q USING (source)),
        |agg AS (
        |  SELECT source, count(*) FILTER (WHERE reps > 0) AS n_docs,
        |    CAST(sum(reps) AS BIGINT) AS n_rows,
        |    CAST(sum(doc_id * ((reps * (reps + 1)) // 2)) AS BIGINT) AS wid_sum
        |  FROM rep GROUP BY source)
        |SELECT q.source, q.n_avail, q.quota,
        |  coalesce(a.n_docs, 0) AS n_docs, coalesce(a.n_rows, 0) AS n_rows,
        |  coalesce(a.wid_sum, 0) AS wid_sum
        |FROM quota q LEFT JOIN agg a USING (source)
        |ORDER BY q.source""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val counts = docs.groupBy("source").agg(Tables.cnt.as("n"))
        val tot = counts.agg(sum(pow(col("n"), lit(0.5))).as("tw"))
        val quota = counts.crossJoin(broadcast(tot))
          .select(col("source"), col("n").as("n_avail"),
            floor(lit(2000) * round(pow(col("n"), lit(0.5)) / col("tw"), 6))
              .cast("long").as("quota"))
        val agg = epochMix(docs, budget = 2000, alpha = 0.5)
          .groupBy("source")
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            Tables.cnt.as("n_rows"),
            sum(col("doc_id") * col("epoch")).as("wid_sum"))
        quota.join(agg, Seq("source"), "left")
          .select(col("source"), col("n_avail"), col("quota"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_rows"), lit(0L)).as("n_rows"),
            coalesce(col("wid_sum"), lit(0L)).as("wid_sum"))
          .orderBy("source")
      })
  )
}
