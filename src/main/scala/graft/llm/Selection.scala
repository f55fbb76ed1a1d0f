package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.query.Tables
import graft.query.Tables.cnt

/** Corpus-selection operators past sampling/mixing: budget-constrained
  * greedy selection and blocklist filtering — the last two gates a training
  * mix passes before packing. The reference has no analog (its scope ends
  * at analytics tables); these are north-star curation ops like L6/L9.
  *
  * 100 TB stances:
  *  - [[budgetSelect]] is the "fill a token budget with the best docs"
  *    primitive. The semantics need a GLOBAL cumulative sum under a total
  *    order — the naive form is an unpartitioned window (one task sorts
  *    the corpus; the plan lint bans it). This is the classic two-phase scan
  *    instead: range-partition on the order key, per-partition token
  *    totals (a partitions-sized collect), driver prefix offsets, then a
  *    per-partition window that runs ONLY on partitions whose offset is
  *    still under budget — with budget ≪ corpus (the normal regime:
  *    trillion-token corpus, billions-of-tokens budget) almost every
  *    partition is eliminated before the window by a partition-constant
  *    comparison.
  *  - [[blocklistScan]] matches every blocklist phrase in ONE pass per
  *    document via the Aho–Corasick kernel
  *    ([[graft.functions.MatchPhrases]]): cost O(bytes + matches)
  *    regardless of phrase count, where the contains-per-phrase plan
  *    re-reads the corpus once per phrase. Map-only — no shuffle until
  *    the (tiny) per-phrase aggregate.
  */
object Selection {

  /** Shared scoring projection: (doc_id, source, toks, score) with score =
    * stopword ratio (the naturalness signal the quality stack already
    * exposes; any per-doc score column works the same way). Full text is
    * dropped HERE — everything downstream moves ~32-byte rows.
    *
    * Degenerate docs (null text, or a tokenizer variant that yields zero
    * words) are pinned to score = 0 / toks = 0 instead of NaN/null: NaN
    * sorts engine-dependently in the range partitioner's sample AND in the
    * oracle's window order, so one empty crawl doc would make the selected
    * set nondeterministic. Score 0 ranks it last — an empty doc never
    * outranks a real one (law-tested in SelectionSpec).
    */
  private def scoredOf(docs: DataFrame): DataFrame = {
    val w = TextOps.words(col("text"))
    // coalesce: null text -> null words -> null size (or -1 under the
    // legacy sizeOfNull flag); both regimes pin to toks = 0, score = 0
    val nw = greatest(coalesce(size(w), lit(0)), lit(0))
    docs.select(col("doc_id"), col("source"),
      nw.cast("long").as("toks"),
      when(nw <= 0, 0.0).otherwise(
        size(filter(w, x => x.isin(TextOps.STOPWORDS: _*))).cast("double")
          / nw).as("score"))
  }

  /** The two-phase range-partitioned prefix sum shared by [[budgetSelect]]
    * (one global stratum) and [[budgetSelectPerSource]] (stratum = source).
    * `scored` must carry (doc_id, source, toks, score, budget); rows rank
    * by (stratum, score desc, doc_id asc) and are kept while the stratum's
    * running token total stays ≤ its `budget` column.
    *
    * Phases:
    *  1. range-partition on (stratum, score desc, doc_id asc), so within a
    *     stratum partition i holds strictly better rows than i+1 and the
    *     range partitioner splits a GIANT stratum across many partitions
    *     in proportion to its size — a 90 %-of-corpus source gets ~90 % of
    *     the partitions, never one task;
    *  2. per-(pid, stratum) token totals → driver prefix offsets. The
    *     collect is bounded by parts + strata − 1 (each partition holds a
    *     contiguous (stratum, score) range), never corpus-sized;
    *  3. drop whole (pid, stratum) groups already past their budget — a
    *     map-side group-constant predicate, so with budget ≪ corpus nearly
    *     everything is eliminated BEFORE the window shuffle — then one
    *     window partitioned by (pid, stratum) finishes the prefix sum on
    *     the ≤ budget-plus-one-partition-per-stratum survivors.
    *
    * Lifecycle: the range layout is persisted only for pid consistency
    * between phases 2 and 3; when `release` (the default) the budget-
    * bounded result is localCheckpoint'ed (RDD-level, ContextCleaner-
    * reclaimed on GC) and the corpus-sized cache unpersisted before
    * returning — repeated calls in a long-lived session leak nothing.
    * `release = false` returns the lazy frame for plan inspection (specs);
    * the caller then owns the cached layout's lifetime.
    */
  private def budgetedPrefix(scored: DataFrame, parts: Int,
      release: Boolean): DataFrame = {
    // stratum keys never contain \u0000 (sources are plain names; the
    // global form uses ""), so the composite offset key is unambiguous
    val Sep = "\u0000"
    val ranged = scored
      .repartitionByRange(parts, col("strat").asc, col("score").desc,
        col("doc_id").asc)
      .sortWithinPartitions(col("strat").asc, col("score").desc,
        col("doc_id").asc)
      .withColumn("pid", spark_partition_id())
      .persist()
    val totals = ranged.groupBy("pid", "strat").agg(sum("toks").as("t"))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2))
    if (totals.isEmpty) {
      ranged.unpersist(blocking = false)
      return scored.select(col("doc_id"), col("source"), col("toks"),
        col("score"), lit(0L).as("cum")).limit(0)
    }
    val offsets: Map[String, Long] = totals.map { case ((p, s), _) =>
      s"$p$Sep$s" -> totals.iterator.collect {
        case ((q, s2), t) if s2 == s && q < p => t
      }.sum
    }.toMap
    val off = element_at(typedLit(offsets),
      concat_ws(Sep, col("pid"), col("strat")))
    val out = ranged.filter(off < col("budget"))
      .withColumn("cum", sum(col("toks")).over(
        Window.partitionBy("pid", "strat")
          .orderBy(col("score").desc, col("doc_id").asc)) + off)
      .filter(col("cum") <= col("budget"))
      .select("doc_id", "source", "toks", "score", "cum")
    if (!release) out
    else {
      // the selected set is budget-bounded (≪ corpus); materialize it so
      // the corpus-sized range layout can be released immediately
      val res = out.localCheckpoint(eager = true)
      ranged.unpersist(blocking = false)
      res
    }
  }

  /** Greedy token-budget selection: rank docs by (score desc, doc_id asc)
    * and keep them while the running token total stays ≤ `budget` — the
    * deterministic "best docs first until the budget is spent" selection.
    *
    * Returns one row per doc: (doc_id, source, toks, score, cum) for the
    * SELECTED set. The cumulative sum is exact and global; see the object
    * scaladoc and [[budgetedPrefix]] for why this is a two-phase scan and
    * not one window.
    */
  def budgetSelect(docs: DataFrame, budget: Long, parts: Int = 32,
      release: Boolean = true): DataFrame =
    budgetedPrefix(scoredOf(docs)
      .withColumn("strat", lit(""))
      .withColumn("budget", lit(budget)), parts, release)

  /** Per-SOURCE token-budget selection — the grouped form of
    * [[budgetSelect]], and the interface a real training mix is actually
    * specified in ("this many tokens of web, this many of code, ...").
    * Within each source, docs rank by (score desc, doc_id asc) and are
    * kept while the source's running token total stays ≤ its budget.
    *
    * Scale shape: the SAME two-phase range-partitioned prefix sum as the
    * global form, run per source ([[budgetedPrefix]] with stratum =
    * source). A window partitioned on bare `source` would be the classic
    * skew trap — source is low-cardinality, and a web source that is 90 %
    * of a 100 TB corpus would sort in ONE task, with the budget filter
    * only running AFTER that sort. Range-partitioning on (source, score
    * desc, doc_id) instead splits the giant source across partitions in
    * proportion to its size, and the per-(pid, source) budget drop
    * eliminates the corpus before anything sorts. SelectionSpec plan-
    * asserts no window here partitions on bare source. Budgets arrive as
    * a small map, broadcast as a literal; unbudgeted sources contribute
    * nothing.
    */
  def budgetSelectPerSource(docs: DataFrame, budgets: Map[String, Long],
      parts: Int = 32, release: Boolean = true): DataFrame = {
    require(budgets.nonEmpty, "budgetSelectPerSource: empty budget map")
    budgetSelectPerSourceScored(scoredOf(docs), budgets, parts, release)
  }

  /** [[budgetSelectPerSource]] over an ALREADY-SCORED frame
    * (doc_id, source, toks, score) — the composition entry point: a
    * pipeline that computed token counts and quality scores upstream
    * (gate/mix stages carry them anyway) must not pay a second tokenize
    * scan of the corpus just to select; at 100 TB the re-tokenize IS a
    * second full read of the text.
    */
  def budgetSelectPerSourceScored(scored: DataFrame,
      budgets: Map[String, Long], parts: Int = 32,
      release: Boolean = true): DataFrame = {
    require(budgets.nonEmpty, "budgetSelectPerSource: empty budget map")
    budgetedPrefix(scored
      .select("doc_id", "source", "toks", "score")
      .withColumn("budget", element_at(typedLit(budgets), col("source")))
      .filter(col("budget").isNotNull) // unbudgeted sources contribute 0
      .withColumn("strat", col("source")), parts, release)
  }

  /** Per-document blocklist matches: (doc_id, source, matched
    * array<string> sorted) — one automaton pass per doc.
    */
  def blocklistScan(docs: DataFrame, phrases: Seq[String]): DataFrame =
    docs.select(col("doc_id"), col("source"),
      graft.functions.MatchPhrases.matchPhrases(col("text"), phrases)
        .as("matched"))

  /** The fixture blocklist: multi-word phrases that occur in the synthetic
    * corpus (so the oracle rows are non-trivial at every SF).
    */
  private val Blocklist = Seq(
    "slow join", "table scan", "batch batch batch", "merge slow",
    "fast key order", "never matches anything")

  private def sqlList(ps: Seq[String]): String =
    ps.map(p => s"'$p'").mkString(", ")

  /** The 7-stage curation chain q_pipeline_selection proves (gate → exact
    * dedup → decontaminate → mix → blocklist → per-source budgets),
    * returning the SELECTED frame (doc_id, source, toks, score, cum) —
    * shared with q_pipeline_packed, which extends it through
    * [[TextOps.packSequences]] into fixed-budget training sequences.
    */
  private def selectionChain(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val w = TextOps.words(col("text"))
    val docs = Tables(s, d, "documents")
    val kept = docs
      .withColumn("n_words", size(w).cast("long"))
      .withColumn("stop_ratio",
        size(filter(w, x => x.isin(TextOps.STOPWORDS: _*)))
          .cast("double") / size(w))
      .filter(col("n_words") >= 30 && col("stop_ratio") > 0.01)
    val keeps = TextOps.exactDedup(kept, col("text"), col("doc_id"))
      .select(col("keep_id").as("doc_id"))
    val deduped = kept.join(keeps, "doc_id")
    val decon = TextOps.decontaminate(deduped,
      docs.filter(col("doc_id") % 10 === 0), "text")
    val mixed = decon
      .withColumn("rate",
        when(col("source") === "src0", 100)
          .when(col("source").isin("src1", "src2", "src3"), 50)
          .otherwise(20))
      .filter((col("doc_id") % 1000003L) * 31L % 100L < col("rate"))
    val blocked = mixed.filter(size(
      graft.functions.MatchPhrases.matchPhrases(col("text"),
        Blocklist)) === 0)
    // the gate already computed n_words/stop_ratio — select over the
    // scored frame so the corpus text is tokenized exactly once
    budgetSelectPerSourceScored(
      blocked.select(col("doc_id"), col("source"),
        col("n_words").as("toks"), col("stop_ratio").as("score")),
      Map("src0" -> 600L, "src2" -> 300L, "src5" -> 400L))
  }

  /** The selection chain's CTEs restated for DuckDB, ending at `cum`
    * (selected docs with per-source running totals) — the shared oracle
    * prefix of q_pipeline_selection and q_pipeline_packed.
    */
  private def selectionChainSql: String =
    s"""WITH scored AS (
      |  SELECT doc_id, source, text,
      |    len(string_split(text, ' ')) AS n_words,
      |    CAST(len(list_filter(string_split(text, ' '),
      |         w -> w IN (${TextOps.StopwordsSql}))) AS DOUBLE)
      |      / len(string_split(text, ' ')) AS stop_ratio
      |  FROM documents),
      |kept AS (
      |  SELECT * FROM scored WHERE n_words >= 30 AND stop_ratio > 0.01),
      |dd AS (SELECT text, min(doc_id) AS keep_id FROM kept GROUP BY text),
      |ded AS (SELECT k.* FROM kept k JOIN dd ON k.doc_id = dd.keep_id),
      |dec AS (SELECT * FROM ded WHERE NOT EXISTS (
      |  SELECT 1 FROM documents e
      |  WHERE e.doc_id % 10 = 0 AND e.text = ded.text)),
      |mix AS (SELECT * FROM dec WHERE (doc_id % 1000003) * 31 % 100 <
      |  CASE WHEN source = 'src0' THEN 100
      |       WHEN source IN ('src1', 'src2', 'src3') THEN 50
      |       ELSE 20 END),
      |blk AS (
      |  SELECT * FROM mix WHERE len(list_filter(
      |    [${sqlList(Blocklist)}], p -> contains(text, p))) = 0),
      |sc AS (
      |  SELECT doc_id, source, CAST(n_words AS BIGINT) AS toks,
      |    stop_ratio AS score,
      |    CASE source WHEN 'src0' THEN 600 WHEN 'src2' THEN 300
      |      WHEN 'src5' THEN 400 END AS budget
      |  FROM blk),
      |cum AS (
      |  SELECT *, sum(toks) OVER (PARTITION BY source
      |    ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM sc WHERE budget IS NOT NULL)""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- L39: token-budget greedy selection -------------------------------
    // The oracle restates the global greedy semantics as DuckDB's
    // single-window cumulative sum; the engine's two-phase scan must
    // produce the IDENTICAL selected set (scores are exact IEEE divisions
    // of the same integers in both engines, so the order is bit-equal).
    Q("q_budget_select", Some(
      s"""WITH sc AS (
        |  SELECT doc_id, source,
        |    CAST(greatest(coalesce(len(string_split(text, ' ')), 0), 0)
        |      AS BIGINT) AS toks,
        |    CASE WHEN coalesce(len(string_split(text, ' ')), 0) <= 0 THEN 0.0
        |      ELSE CAST(len(list_filter(string_split(text, ' '),
        |         w -> w IN (${TextOps.StopwordsSql}))) AS DOUBLE)
        |      / len(string_split(text, ' ')) END AS score
        |  FROM documents),
        |cum AS (
        |  SELECT *, sum(toks) OVER (
        |    ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM sc)
        |SELECT source, count(*) AS n_sel,
        |  CAST(sum(toks) AS BIGINT) AS tok_sum,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM cum WHERE cum <= 10000
        |GROUP BY source ORDER BY source""".stripMargin),
      (s, d) => budgetSelect(Tables(s, d, "documents"), budget = 10000L)
        .groupBy("source")
        .agg(cnt.as("n_sel"), sum("toks").as("tok_sum"),
          sum("doc_id").as("id_sum"))
        .orderBy("source")),

    // ---- L39+: per-source token budgets (the training-mix interface) ------
    // Budgets name a subset of sources; unbudgeted sources contribute
    // nothing. The oracle restates the per-source window cumsum with the
    // same CASE-mapped budgets.
    Q("q_budget_per_source", Some(
      s"""WITH sc AS (
        |  SELECT doc_id, source,
        |    CAST(greatest(coalesce(len(string_split(text, ' ')), 0), 0)
        |      AS BIGINT) AS toks,
        |    CASE WHEN coalesce(len(string_split(text, ' ')), 0) <= 0 THEN 0.0
        |      ELSE CAST(len(list_filter(string_split(text, ' '),
        |         w -> w IN (${TextOps.StopwordsSql}))) AS DOUBLE)
        |      / len(string_split(text, ' ')) END AS score,
        |    CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 500
        |      WHEN 'src2' THEN 300 WHEN 'src5' THEN 1000 END AS budget
        |  FROM documents),
        |cum AS (
        |  SELECT *, sum(toks) OVER (PARTITION BY source
        |    ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM sc WHERE budget IS NOT NULL)
        |SELECT source, count(*) AS n_sel,
        |  CAST(sum(toks) AS BIGINT) AS tok_sum,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM cum WHERE cum <= budget
        |GROUP BY source ORDER BY source""".stripMargin),
      (s, d) => budgetSelectPerSource(Tables(s, d, "documents"),
        Map("src0" -> 800L, "src1" -> 500L, "src2" -> 300L, "src5" -> 1000L))
        .groupBy("source")
        .agg(cnt.as("n_sel"), sum("toks").as("tok_sum"),
          sum("doc_id").as("id_sum"))
        .orderBy("source")),

    // ---- L∅+: training prep EXTENDED through the selection layer ----------
    // q_pipeline_training ends at shard accounting; this sibling proves the
    // r9 selection layer COMPOSES with that stack: quality gate → exact
    // dedup → decontamination → weighted mixing → BLOCKLIST (one
    // Aho–Corasick pass, map-only) → PER-SOURCE TOKEN BUDGETS (the
    // two-phase prefix sum) → per-source accounting. Scale shape: the
    // corpus crosses the wire once in the dedup shuffle; every stage after
    // it is map-only until the selection's 32-byte-row range shuffle.
    Q("q_pipeline_selection", Some(
      s"""$selectionChainSql
        |SELECT source, count(*) AS n_sel,
        |  CAST(sum(toks) AS BIGINT) AS tok_sum,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM cum WHERE cum <= budget
        |GROUP BY source ORDER BY source""".stripMargin),
      (s, d) => selectionChain(s, d)
        .groupBy("source")
        .agg(cnt.as("n_sel"), sum("toks").as("tok_sum"),
          sum("doc_id").as("id_sum"))
        .orderBy("source")),

    // ---- L∅++: the FULL training prep chain, selection THROUGH packing ----
    // The one missing link after q_pipeline_selection: the selected set
    // packs into fixed-budget training sequences (concat-and-split per
    // source, ordered by doc_id) with per-(source, sequence) accounting —
    // the artifact a trainer actually consumes. Scale shape: packing adds
    // ONE window over the budget-bounded (≪ corpus) selected set of
    // 32-byte rows — token counts ride from the gate, the corpus text is
    // still tokenized exactly once end-to-end.
    Q("q_pipeline_packed", Some(
      s"""$selectionChainSql,
        |sel AS (SELECT source, doc_id, toks FROM cum WHERE cum <= budget),
        |packed AS (
        |  SELECT source, doc_id, toks,
        |    CAST(coalesce(sum(toks) OVER (PARTITION BY source
        |      ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS start
        |  FROM sel)
        |SELECT source, CAST(floor(start / 512) AS BIGINT) AS seq_id,
        |  count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS tok_sum,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM packed GROUP BY source, seq_id
        |ORDER BY source, seq_id""".stripMargin),
      (s, d) => TextOps.packSequences(selectionChain(s, d),
          budget = 512L, partitionCols = Seq("source"),
          orderCols = Seq("doc_id"), tokens = col("toks"))
        .groupBy("source", "seq_id")
        .agg(cnt.as("n_docs"), sum("n_tokens").as("tok_sum"),
          sum("doc_id").as("id_sum"))
        .orderBy("source", "seq_id")),

    // ---- L40: blocklist filter (Aho–Corasick multi-phrase scan) -----------
    // Per-phrase hit counts + an id checksum of the flagged docs; the
    // oracle's list_filter-over-literal-list is the contains-per-phrase
    // reference semantics, list_sort pins the emit order.
    Q("q_blocklist", Some(
      s"""WITH m AS (
        |  SELECT doc_id, unnest(list_sort(list_filter(
        |    [${sqlList(Blocklist)}],
        |    p -> contains(text, p)))) AS phrase
        |  FROM documents)
        |SELECT phrase, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM m GROUP BY phrase ORDER BY phrase""".stripMargin),
      (s, d) => blocklistScan(Tables(s, d, "documents"), Blocklist)
        .select(col("doc_id"), explode(col("matched")).as("phrase"))
        .groupBy("phrase")
        .agg(cnt.as("n_docs"), sum("doc_id").as("id_sum"))
        .orderBy("phrase"))
  )
}
