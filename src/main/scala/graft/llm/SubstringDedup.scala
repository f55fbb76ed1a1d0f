package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Q
import graft.query.Tables

/** L36: exact-substring deduplication — the substring-grain member of the
  * dedup family (doc-grain q_dedup_exact, paragraph-grain q_chunk_dedup,
  * near-dup q_dedup_minhash). The "deduplicating training data" result
  * (Lee et al. 2022) removes every text span that repeats anywhere in the
  * corpus, because LMs memorize repeated substrings long before repeated
  * documents; their suffix-array construction is a single-machine
  * algorithm, so this engine uses the distributed-native equivalent at
  * k-gram granularity: every k-token window that occurs ≥ 2 times
  * anywhere (same doc or across docs — by rolling hash,
  * [[TextOps.ngramHashes]]) is duplicated text; its globally FIRST
  * occurrence (min (doc_id, pos)) survives and every other occurrence's
  * k-token span is cut from its document.
  *
  * Scale shape (100 TB):
  *  - gram stream = one codegen'd rolling-hash pass, shuffling 8-byte
  *    (gh) keyed rows once into a partial-agg `min(struct) + count` —
  *    a hot boilerplate gram (10⁹ occurrences of one value) is absorbed
  *    map-side, never windowed;
  *  - the occurrence re-attach is hinted SHUFFLE_HASH with the
  *    duplicated-gram table as build side (distinct dup values ≤
  *    occurrences, and the occurrence stream must never sort — the
  *    FanoutSortLint rule);
  *  - rebuild is row-local: cut positions collect into a per-doc array
  *    (bounded by doc length) and an indexed `filter` HOF drops the
  *    covered tokens — only docs WITH cuts carry any rebuild state, and
  *    the corpus never re-groups token-by-token.
  *
  * One-pass semantics: cutting can juxtapose new k-grams; like the
  * reference implementations, [[clean]] does not re-examine those.
  */
object SubstringDedup {

  /** (doc_id, cutpos) for every doc with ≥ 1 cut token position: the
    * sorted, deduped 0-based token positions covered by a non-canonical
    * occurrence of a duplicated k-gram. Docs with no cuts are absent.
    */
  private def cutPositions(docs: DataFrame, k: Int): DataFrame = {
    val grams = docs
      .select(col("doc_id"), posexplode(TextOps.ngramHashes(col("text"), k)))
      .toDF("doc_id", "pos", "gh")
    // canonical occurrence per DUPLICATED gram value: min (doc_id, pos) —
    // deterministic under any execution order
    val first = grams.groupBy("gh")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"),
        Tables.cnt.as("occs"))
      .filter(col("occs") > 1)
      .select("gh", "first")
    // size-adaptive build side (Reattach.adaptive): the duplicated-gram
    // table broadcasts at fixture scale (the gram stream then never
    // exchanges); above the threshold — or whenever the agg estimate is a
    // heuristic, which rounds UP — the shuffle-hash floor holds and
    // sort-merge stays unreachable over the gram fan-out
    val cuts = grams.join(graft.plans.Reattach.adaptive(first), Seq("gh"))
      .filter(!(col("doc_id") === col("first").getField("doc_id") &&
        col("pos") === col("first").getField("pos")))
    // covered token positions, deduped (overlapping non-canonical spans
    // union cleanly), then folded to ONE bounded array per affected doc
    cuts
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("tpos"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("tpos"))).as("cutpos"))
  }

  /** Row-local rebuild: drop each affected doc's cut positions from its
    * token array in ONE linear merge pass ([[graft.functions.DropIndices]]
    * — cutpos arrives sorted, so the kernel is O(len + cuts) where the HOF
    * `filter + array_contains` form was O(len × cuts) on a long
    * mostly-duplicated doc). The join streams the corpus through
    * per-partition hash maps of the (small) affected-doc array table —
    * never a sort.
    */
  private def rebuild(docs: DataFrame, cutDocs: DataFrame): DataFrame = {
    val ws = split(col("text"), " ")
    val keptArr = when(col("cutpos").isNull, ws)
      .otherwise(graft.functions.DropIndices.dropIndices(ws, col("cutpos")))
    docs.join(graft.plans.Reattach.adaptive(cutDocs), Seq("doc_id"), "left")
      .select(col("doc_id"), size(keptArr).cast("long").as("kept_tokens"),
        concat_ws(" ", keptArr).as("clean_text"))
  }

  /** (doc_id, kept_tokens, clean_text) for EVERY input doc — untouched
    * docs pass through with their original text and full token count.
    */
  def clean(docs: DataFrame, k: Int): DataFrame =
    rebuild(docs, cutPositions(docs, k))

  val all: Seq[Q] = Seq(

    // ---- L36: exact-substring dedup, full DuckDB twin. The oracle
    // restates the gram identity over n-gram STRINGS (hash-distinct ==
    // string-distinct up to 2^-64 collisions — the q_ngram_jaccard parity
    // precedent) with the same first-occurrence policy, and rebuilds via
    // ordered string_agg; clean-text strings hash-compare exactly.
    Q("q_dedup_substring", Some(
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS ws
        |              FROM documents),
        |grams AS (
        |  SELECT doc_id, i AS pos, array_to_string(ws[i:i+7], ' ') AS g
        |  FROM base, unnest(generate_series(1, greatest(len(ws) - 7, 0)))
        |    AS u(i)),
        |occ AS (
        |  SELECT doc_id, pos,
        |    row_number() OVER (PARTITION BY g ORDER BY doc_id, pos) AS rn,
        |    count(*) OVER (PARTITION BY g) AS c
        |  FROM grams),
        |cuts AS (SELECT doc_id, pos FROM occ WHERE c > 1 AND rn > 1),
        |cuttok AS (
        |  SELECT DISTINCT doc_id, i AS tpos
        |  FROM cuts, unnest(generate_series(pos, pos + 7)) AS u(i)),
        |tok AS (
        |  SELECT doc_id, i AS tpos, ws[i] AS tok
        |  FROM base, unnest(generate_series(1, len(ws))) AS u(i)),
        |kept AS (
        |  SELECT t.doc_id, t.tpos, t.tok FROM tok t
        |  ANTI JOIN cuttok c ON t.doc_id = c.doc_id AND t.tpos = c.tpos),
        |reb AS (
        |  SELECT doc_id, count(*) AS kept_tokens,
        |    string_agg(tok, ' ' ORDER BY tpos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.kept_tokens, 0) AS kept_tokens,
        |  coalesce(r.clean_text, '') AS clean_text
        |FROM documents d LEFT JOIN reb r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin),
      (s, d) => clean(Tables(s, d, "documents"), 8).orderBy("doc_id"))
  )
}
