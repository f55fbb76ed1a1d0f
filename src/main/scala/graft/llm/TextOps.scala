package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.query.Tables
import graft.query.Tables.cnt

/** Text-analysis + deduplication operators for LLM training-data pipelines
  * (SURVEY.md §2.11 L1/L2/L5). Everything is pure column expressions /
  * higher-order array functions — codegen-friendly, no UDFs — so each op is
  * a single scan + (at most) one shuffle at any scale.
  */
object TextOps {

  /** Whitespace tokens. */
  def words(text: Column): Column = split(text, " ")

  /** L1: exact dedup — one representative row (min id) per distinct key.
    * Scale shape: a single hash-shuffle on the (hashed) key; at 100 TB dedup
    * on `sha2(text)` rather than raw text to keep shuffle rows small.
    */
  def exactDedup(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dedup_key"))
      .agg(min(id).as("keep_id"), cnt.as("n_copies"))

  /** Per-row distinct 64-bit shingle hashes WITHOUT materializing shingle
    * strings: a native single pass off the text bytes
    * ([[graft.functions.ShingleHashes]]; bit-for-bit parity with the HOF
    * slice-chain it replaced — element order included — is pinned in
    * SignatureExpressionsSpec, because these values are upstream of every
    * STORED MinHash signature). Skipping the `concat_ws` string build +
    * string distinct is ~3x on the shingling stage; build gram strings
    * with [[ngramsAll]] only where the strings themselves are needed
    * (q_ngram_jaccard).
    *
    * The old HOF form needed a persisted word-hash barrier per call site
    * (CollapseProject would inline the word-hash transform into the
    * window lambda and re-run it per shingle position); a single native
    * node has nothing to re-inline, so the frame is LAZY — callers
    * persist/checkpoint only where their own plan branches.
    *
    * Output: `keep` columns + `hs: array<bigint>`; rows with < n words
    * drop. The repartition spreads downstream signature work across the
    * cluster even when the source collapses to few input splits.
    */
  def shingleHashes(df: DataFrame, keep: Seq[String], n: Int): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(keep.map(col) :+
        graft.functions.GraftFunctions
          .shingleHashesNative(col("text"), n).as("hs"): _*)
      .filter(size(col("hs")) > 0)

  /** Jaccard similarity of two pre-distinct string arrays — exact, for
    * verification and small candidate sets. The 100 TB path is MinHash LSH
    * (`VectorOps.minhashPairsNative`) which only ever compares within-bucket
    * candidates; this exact form is its verifier.
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** L2c: n-gram CONTAINMENT pairs — `|A∩B| / min(|A|,|B|)` over distinct
    * shingle-hash sets. The asymmetric-duplication detector Jaccard
    * structurally misses: a document embedded whole inside a much larger
    * one has containment ≈ 1 while Jaccard ≈ |small|/|large| ≈ 0, so a
    * Jaccard-thresholded dedup keeps both copies (quote-the-whole-article
    * spam, chunk-of-a-book training leaks). Broder's original resemblance
    * paper defines both measures for exactly this reason.
    *
    * Plan shape is the INVERTED-INDEX pattern (the `q_ngram_jaccard`
    * all-pairs form can't scale past a bounded window): one shingle pass,
    * explode to (doc, h), one groupBy(h) exchange — 8-byte keys — and each
    * hash emits its own doc PAIRS, which aggregate to |A∩B|; set sizes ride
    * a tiny broadcast join. No all-pairs stage; cost is Σ_h df(h)², i.e.
    * bounded by real shared-shingle density.
    *
    * `maxDf` is the skew guard for that Σ: a shingle present in more than
    * `maxDf` docs (boilerplate n-grams — "all rights reserved") is DROPPED
    * before pairing, trading a conservative containment under-estimate for
    * a hard quadratic bound, the `maxBucket`/`maxCluster` stance. 0 = off
    * (the oracle key's exact mode).
    */
  def containmentPairs(docs: DataFrame, threshold: Double, n: Int = 3,
      maxDf: Int = 0): DataFrame = {
    val sh = shingleHashes(docs, Seq("doc_id"), n)
    // set sizes: computed from the SAME pass via localCheckpoint so the
    // shingle scan runs once for both the index and the size table
    val snap = sh.localCheckpoint()
    try {
      val sizes = snap.select(col("doc_id"), size(col("hs")).as("n_sh"))
      val byHash = snap.select(col("doc_id"), explode(col("hs")).as("h"))
        .groupBy("h").agg(sort_array(collect_set("doc_id")).as("ds"))
      val capped = if (maxDf > 0) byHash.filter(size(col("ds")) <= maxDf)
        else byHash
      val inter = capped.filter(size(col("ds")) > 1)
        .select(explode(expr(
          "flatten(transform(ds, (x, i) -> transform(" +
            "slice(ds, i + 2, size(ds) - i - 1), " +
            "y -> named_struct('id_a', x, 'id_b', y))))")).as("p"))
        .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
        .agg(cnt.as("ni"))
      val c = col("ni").cast("double") / least(col("n_a"), col("n_b"))
      inter
        .join(broadcast(sizes.select(col("doc_id").as("id_a"),
          col("n_sh").as("n_a"))), Seq("id_a"))
        .join(broadcast(sizes.select(col("doc_id").as("id_b"),
          col("n_sh").as("n_b"))), Seq("id_b"))
        .filter(c >= threshold)
        .select(col("id_a"), col("id_b"), round(c, 4).as("containment"))
        .localCheckpoint() // pair rows only; lets the shingle snap release
    } finally {
      org.apache.spark.sql.graft.ColumnBridge.releaseLocalCheckpoint(snap)
    }
  }

  /** L2 (SimHash): 64-bit SimHash over distinct tokens — per-token
    * xxhash64, then a native per-bit majority vote
    * ([[graft.functions.SimHash64]]; value parity with the nested-HOF SQL
    * form it replaced is pinned by SignatureExpressionsSpec). Near-dups
    * then pair by small Hamming distance (`bit_count(a ^ b)`).
    */
  def simhash64(textCol: String): Column =
    graft.functions.GraftFunctions.simhash64Native(
      transform(array_distinct(split(col(textCol), " ")), w => xxhash64(w)))

  /** Document fingerprint: order-sensitive 64-bit hash of the token
    * stream. Distinguishes reorderings that set-based signatures
    * (MinHash/SimHash) collapse. `xxhash64` folds array elements in
    * sequence order natively — codegen'd, vs the interpreted
    * per-token HOF `aggregate` chain it replaces (same contract:
    * equal token sequences ⟺ equal fingerprints, order-sensitive).
    */
  def fingerprint(text: Column): Column =
    xxhash64(split(text, " "))

  private[llm] val STOPWORDS = Seq("the", "a")

  /** [[STOPWORDS]] as a SQL IN-list, interpolated into the oracle twins so
    * the two sides can never drift (editing the list updates both).
    */
  private[llm] val StopwordsSql = STOPWORDS.map(w => s"'$w'").mkString(", ")

  // PII/boilerplate patterns valid in BOTH Java regex (Spark) and RE2
  // (DuckDB oracle) — no backrefs, no lookaround
  private[llm] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[llm] val UrlRe = "https?://\\S+"

  /** L5: PII/boilerplate redaction — emails and URLs become placeholder
    * tokens, the standard scrub before LLM training text leaves a pipeline.
    * Pure codegen'd `regexp_replace`; one scan, no shuffle.
    */
  def redact(text: Column): Column =
    regexp_replace(regexp_replace(text, lit(EmailRe), lit("<EMAIL>")),
      lit(UrlRe), lit("<URL>"))

  /** Per-source minhash signature from a DISTINCT `(source, h)` frame.
    *
    * Identical values to the per-doc signature union (the
    * [[VectorOps.sigColumn]] + typed min-union aggregator form — min is
    * associative, so the min over a source's distinct hash set equals the
    * elementwise min over its docs' signatures; drift-guarded in
    * TextOpsSpec), but computed as single-hash signatures + `nPerm` plain
    * `min` slots in ONE hash aggregate: no second corpus-signature pass,
    * no typed-aggregator encode barrier — the whole path stays inside
    * whole-stage codegen, and in [[sourceContaminationChecked]] it rides
    * the exact branch's own exploded frame. Sources whose every doc has
    * an EMPTY shingle set vanish here (nothing to explode) — they carry
    * no estimable signature, and the exact side drops them identically.
    */
  private[llm] def perSourceSig(sh: DataFrame, nPerm: Int): DataFrame = {
    val s1 = sh.withColumn("__s1",
      VectorOps.sigColumn(array(col("h")), nPerm))
    val mins = (0 until nPerm).map(p =>
      min(element_at(col("__s1"), p + 1)).as(s"__m$p"))
    // the distinct-hash count rides the same aggregate for free — the
    // exact branch's |A| / |B| terms, one slot next to the 64 mins
    s1.groupBy("source").agg(cnt.as("n"), mins: _*)
      .select(col("source"), col("n"),
        array((0 until nPerm).map(p => col(s"__m$p")): _*).as("sig"))
  }

  private def estJaccard(nPerm: Int): Column =
    round(aggregate(zip_with(col("sig_a"), col("sig_b"),
      (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / nPerm, 4)

  /** Cross-source contamination WITH its ground truth, from ONE shingle
    * pass: each source pair carries the MinHash estimate of the Jaccard
    * between the two sources' full shingle-union sets (composed per-source
    * signatures, [[perSourceSig]]) next to the EXACT shingle-set Jaccard and
    * the estimator-law verdict `|est − exact| ≤ tol`.
    *
    * The exact side never self-joins the corpus: the distinct
    * (source, shingle-hash) space is built by a single hash-shuffle on the
    * shingle hash (`collect_set(source)` dedups and groups in the same
    * exchange), and each hash then emits its own source PAIRS — bounded by
    * |sources|²/2 per hash, independent of corpus size — which aggregate to
    * |A∩B| per pair (the `q_ngram_jaccard` hash-intersect pattern).
    * |A∪B| = |A|+|B|−|A∩B| from per-source hash counts off the same grouped
    * frame. Shuffled payloads are 8-byte hashes + source names throughout;
    * the corpus is shingled once and scanned once.
    */
  def sourceContaminationChecked(spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, nPerm: Int = 64, tol: Double = 0.15): DataFrame = {
    // ONE shingle pass, stored before the plan branches: an eager
    // localCheckpoint writes the blocks up front AND cuts lineage, so the
    // branches physically cannot re-run the scan (a lazy persist lets
    // concurrently-ready branches race the cache and each recompute it —
    // the minhashPairsNative lesson). Everything downstream
    // rides byHash's single groupBy(h) exchange — the round-7 fusion:
    // the estimate's per-source signatures are computed from byHash's
    // own re-exploded distinct (source, h) rows (see [[perSourceSig]]),
    // not from a second 64-permutation pass over the corpus.
    val hsDf = shingleHashes(docs, Seq("source"), 3).localCheckpoint()
    val byHash = hsDf
      .select(col("source"), explode(col("hs")).as("h"))
      .groupBy("h").agg(sort_array(collect_set("source")).as("srcs"))
    // the distinct (source, h) space the estimate needs IS byHash
    // re-exploded — counts, signatures, and the intersection all ride the
    // one groupBy(h) exchange (ReuseExchange dedups the two readers)
    val perSource = perSourceSig(
      byHash.select(col("h"), explode(col("srcs")).as("source")), nPerm)
    val inter = byHash.filter(size(col("srcs")) > 1)
      .select(explode(expr(
        "flatten(transform(srcs, (x, i) -> transform(" +
          "slice(srcs, i + 2, size(srcs) - i - 1), " +
          "y -> named_struct('src_a', x, 'src_b', y))))")).as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(cnt.as("ni"))
    // ONE self-join carries counts + signatures, so exact and estimate
    // come out of the same pair frame (the old shape built est and exact
    // pair joins separately, then joined them back — two joins for
    // nothing: the pair universe is identical)
    val jac = coalesce(col("ni"), lit(0L)).cast("double") /
      (col("n_a") + col("n_b") - coalesce(col("ni"), lit(0L)))
    val out = perSource.as("ca").join(perSource.as("cb"),
        col("ca.source") < col("cb.source"))
      .select(col("ca.source").as("src_a"), col("cb.source").as("src_b"),
        col("ca.n").as("n_a"), col("cb.n").as("n_b"),
        col("ca.sig").as("sig_a"), col("cb.sig").as("sig_b"))
      .join(inter, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"),
        round(jac, 4).as("exact_jac"),
        (abs(estJaccard(nPerm) - jac) <= tol).as("est_ok"))
      .localCheckpoint()
    // release the corpus-sized snapshot deterministically (blocks are not
    // freed by clearCache and otherwise live until RDD GC)
    org.apache.spark.sql.graft.ColumnBridge.releaseLocalCheckpoint(hsDf)
    out
  }

  /** L2 closing stage: resolve near-dup candidate PAIRS into connected
    * components and a keep/drop decision per document — the step that turns
    * "these pairs look alike" into an actual deduplicated corpus (near-dup
    * similarity is not transitive, but dedup policy treats components as
    * duplicate groups: a~b and b~c drops both b and c even if a!~c).
    *
    * Iterative min-label propagation WITH pointer doubling: every node
    * starts labeled with its own id; each round a node takes the min of its
    * label, its neighbors' labels, and its label's label (the shortcut —
    * label values are node ids, so they can be dereferenced). Neighbor
    * propagation alone needs O(component diameter) rounds; the shortcut
    * composes pointers so reach doubles per round — O(log diameter), the
    * same asymptotic as large-star/small-star, with two shuffles per round
    * (edge-carried group-min + the label-as-key self-join). Near-dup
    * clusters are dense and shallow (2-3 rounds); a 64-node chain resolves
    * in ~7 (unit-tested) where plain propagation needs 62 and would be
    * CUT OFF WRONG by maxIter. Each round `localCheckpoint`s its labels:
    * the round's plan references the previous labels three times, so
    * without lineage truncation the logical plan grows 3^rounds and
    * analysis itself becomes the bottleneck (the materialization is the
    * same count the quiescence check needs anyway; superseded round states
    * are reclaimed by the ContextCleaner as they drop out of scope).
    *
    * Output: (doc_id, cluster_id = min doc_id in component, keep) for every
    * doc that appears in some pair; docs with no pair are implicitly kept.
    */
  def dedupClusters(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // materialize the (possibly expensive) pair source once — the union
    // below references it twice and Spark re-executes shared subtrees
    val p = pairs.select(col("id_a"), col("id_b")).persist(lvl)
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .persist(lvl)
    // seed with the min over the closed neighborhood — folds the first
    // propagation round into initialization (one shuffle, no join/count).
    // LAZY checkpoint: round 1's quiescence count is the materializing job,
    // so the seed never pays its own scheduler round-trip (each round is
    // latency-bound at small pair counts — the data is a few MB but an
    // eager checkpoint + count is two jobs of AQE re-planning apiece)
    var labels = edges.groupBy(col("src").as("id"))
      .agg(min("dst").as("m"))
      .select(col("id"), least(col("id"), col("m")).as("label"))
      .localCheckpoint(eager = false)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbr = edges
        .join(labels.select(col("id").as("src"), col("label")), "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("nbr_label"))
      // pointer doubling: dereference the current label (labels are node
      // ids) to jump straight to the grandparent's label
      val short = labels.select(col("id").as("pid"), col("label").as("plabel"))
      // quiescence detection rides along as a `chg` flag computed in the
      // same propagation pass — one scalar count over the cached frame,
      // no extra labels-vs-previous self-join
      val next = labels.join(nbr, Seq("id"), "left")
        .join(short, col("label") === col("pid"), "left")
        .select(col("id"),
          least(col("label"),
            least(coalesce(col("nbr_label"), col("label")),
              coalesce(col("plabel"), col("label")))).as("new_label"),
          col("label"))
        .select(col("id"), col("new_label").as("label"),
          (col("new_label") < col("label")).as("chg"))
        .localCheckpoint(eager = false)
      // the count is ALSO the checkpoint materialization (lazy mode): the
      // labels RDD computes and snapshots to executor blocks inside this
      // one job — halves the jobs per round vs eager-checkpoint-then-count,
      // while keeping the lineage truncation that stops 3^rounds plan growth
      changed = next.filter(col("chg")).count()
      // next's blocks are stored and its lineage cut, so the superseded
      // round's blocks are released deterministically (not left to GC)
      org.apache.spark.sql.graft.ColumnBridge.releaseLocalCheckpoint(labels)
      labels = next
      i += 1
    }
    // bounded result: one row per paired doc; per-invocation caches drop
    // here. The labels frame is already checkpointed (loop) so this
    // projection is cheap to re-execute — no extra materialization job for
    // the output itself.
    val out = labels
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("keep"))
    edges.unpersist()
    p.unpersist()
    out
  }

  /** L5+: split documents into overlapping word-window chunks — the unit
    * conversion every training pipeline does between cleaning and
    * tokenization (long doc → fixed-ish context windows, stride < size for
    * boundary overlap). Pure generator shape: one `sequence`+`explode` per
    * row, `slice` per chunk — no shuffle, no driver involvement; at 100 TB
    * this is a map-only pass whose output partitioning follows the input.
    * Chunk starts are 0, stride, 2·stride, …, covering every word (the
    * last chunk may be short); a doc shorter than `chunkSize` yields
    * exactly one chunk.
    */
  def chunkWords(df: DataFrame, chunkSize: Int, stride: Int,
      textCol: String = "text"): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val ws = words(col(textCol))
    val lastStart = ceil(greatest(size(ws) - chunkSize, lit(0))
      .cast("double") / stride).cast("long")
    df.withColumn("_ws", ws)
      .withColumn("chunk_id", explode(sequence(lit(0L), lastStart)))
      .withColumn("chunk", array_join(
        slice(col("_ws"), (col("chunk_id") * stride + 1).cast("int"),
          lit(chunkSize)), " "))
      .withColumn("n_words",
        least(size(col("_ws")) - col("chunk_id") * stride, lit(chunkSize))
          .cast("long"))
      .drop("_ws")
  }

  /** All word n-gram occurrences, NON-distinct — for corpus-frequency
    * counting, where each occurrence counts once.
    */
  def ngramsAll(text: Column, n: Int): Column = {
    val w = words(text)
    // shifted zip_with folds, exactly like [[ngramHashes]]: the word array
    // only ever appears as a zip ARGUMENT (evaluated ~n times per row),
    // never captured inside a lambda — `slice(w, i, n)` inside a transform
    // re-evaluates the split once per n-gram POSITION, O(words^2) per doc.
    // concat_ws skips the null padding zip_with adds past the shorter
    // array, so the junk tail is short grams the final slice drops.
    val folded = (2 to n).foldLeft(w) { (acc, j) =>
      zip_with(acc,
        slice(w, lit(j), greatest(size(w) - (j - 1), lit(1))),
        (a, b) => concat_ws(" ", a, b))
    }
    slice(folded, lit(1), greatest(size(w) - (n - 1), lit(0)))
  }

  /** 64-bit n-gram hashes (one per occurrence, order-preserved) WITHOUT
    * materializing n-gram strings: a native single-pass rolling hash off
    * the text bytes ([[graft.functions.NgramHashes]]; bit-for-bit parity
    * with the built-in-HOF form it replaced is pinned in
    * SignatureExpressionsSpec — gram values feed stored decontamination
    * state, so the two forms must never drift). Hash-distinct equals
    * string-distinct up to 2^-64 collisions (words cannot contain the
    * split character, so the n-word window is injective). Rows with < n
    * words yield an empty array.
    */
  def ngramHashes(text: Column, n: Int): Column =
    graft.functions.GraftFunctions.ngramHashesNative(text, n)

  /** L5: Gopher-style quality-rule battery — the per-document repetition /
    * shape signals LLM cleaning pipelines gate on (Rae et al. 2021 §A1.1):
    * word count bounds, mean word length, duplicate-word and
    * duplicate-trigram fractions (within-doc repetition), symbol ratio.
    * One scan, zero shuffles: every signal is a codegen'd expression over
    * the token array, so at 100 TB this runs at parquet-read speed and the
    * `keep` verdict prunes the corpus before any shuffle-bearing stage.
    * Ratios round to 6 places so the oracle compare is ulp-proof.
    */
  def qualityRules(df: DataFrame, textCol: String = "text"): DataFrame = {
    val s = qualitySignals(textCol)
    df.select(col("doc_id") +: s.map { case (n, c) => c.as(n) }: _*)
      .withColumn("keep", keepPredicate)
  }

  /** The rounded per-doc signal expressions behind [[qualityRules]]. */
  private def qualitySignals(textCol: String): Seq[(String, Column)] = {
    val w = words(col(textCol))
    val nW = size(w)
    val meanWordLen =
      (length(col(textCol)) - (nW - 1)).cast("double") / nW
    val dupWordFrac =
      lit(1.0) - size(array_distinct(w)).cast("double") / nW
    // hash-distinct == string-distinct (ngramHashes note); occurrences = nW - 2
    val dupTriFrac = when(nW < 3, 0.0).otherwise(
      lit(1.0) - size(array_distinct(ngramHashes(col(textCol), 3)))
        .cast("double") / (nW - 2))
    val symbolFrac = regexp_count(col(textCol), lit("[^a-zA-Z0-9 ]"))
      .cast("double") / length(col(textCol))
    Seq(
      "n_words" -> nW.cast("long"),
      "mean_word_len" -> round(meanWordLen, 6),
      "dup_word_frac" -> round(dupWordFrac, 6),
      "dup_trigram_frac" -> round(dupTriFrac, 6),
      "symbol_frac" -> round(symbolFrac, 6))
  }

  /** L5/L11: top-n-gram concentration — Gopher's "fraction of occurrences
    * claimed by the most frequent n-gram" repetition signal, the
    * distributional complement of the gate's `dup_*_frac` distinct
    * fractions (a doc dominated by one phrase repeated among otherwise
    * diverse text passes a distinct-fraction test but not this one).
    *
    * 100 TB shape: map-only n-gram hashing ([[ngramHashes]], multiplicity
    * preserved, strings never built), ONE shuffle keyed by
    * (doc_id, gram-hash) — doc_id in the key means boilerplate grams can
    * never form a hot key — then a map-side-partial per-doc max/sum.
    * Counting by 64-bit gram hash equals counting by gram string modulo
    * 2^-64 collisions (the chunkDedup trade, same call).
    */
  def topNgramFrac(df: DataFrame, n: Int = 2,
      textCol: String = "text"): DataFrame =
    df.select(col("doc_id"),
        explode(ngramHashes(col(textCol), n)).as("g"))
      .groupBy("doc_id", "g").agg(cnt.as("c"))
      .groupBy("doc_id")
      .agg(round(max(col("c")).cast("double") / sum(col("c")), 4)
        .as("top_ngram_frac"))

  /** The gate verdict over the signal columns [[qualityRules]] selects. */
  private def keepPredicate: Column =
    col("n_words").between(30, 100000) &&
    col("mean_word_len").between(2, 12) &&
    col("dup_word_frac") <= 0.9 &&
    col("dup_trigram_frac") <= 0.35 &&
    col("symbol_frac") <= 0.05

  /** L1 at paragraph grain: corpus-level exact chunk dedup (C4/CCNet-style
    * boilerplate removal one level below whole-document dedup). Documents
    * split into non-overlapping `chunkSize`-word windows; a chunk is kept
    * iff it is the first occurrence corpus-wide (order: doc_id, chunk_id).
    *
    * 100 TB shape: the generator is map-only ([[chunkWords]]), then one
    * CONTENT shuffle that carries the 8-byte `xxhash64(chunk)`, never the
    * chunk text (a 2^-64 collision merges two chunks; at that odds the
    * shuffle-volume win is the right trade, same call as L1's sha2 note),
    * plus a second cheap exchange of one ~16-byte row per chunk for the
    * per-doc survivor counts (map-side partial). Output: per-doc
    * (n_chunks, n_kept) — the survivor histogram a cleaning job reports.
    */
  def chunkDedup(df: DataFrame, chunkSize: Int): DataFrame = {
    val chunks = chunkWords(df, chunkSize, chunkSize)
      .select(col("doc_id"), col("chunk_id"), xxhash64(col("chunk")).as("ch"))
    val firstInCorpus = Window.partitionBy(col("ch"))
      .orderBy(col("doc_id"), col("chunk_id"))
    chunks
      .withColumn("rn", row_number().over(firstInCorpus))
      .groupBy("doc_id")
      .agg(cnt.as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
  }

  /** L19: corpus-frequency boilerplate removal, the CCNet/C4 "repeated
    * furniture" sweep one notch below [[chunkDedup]]'s first-wins policy:
    * segments (non-overlapping `segSize`-word windows) that occur in >=
    * `minDocs` DISTINCT documents are removed from EVERY document — headers,
    * footers, nav chrome, license blurbs repeat across a crawl and should
    * vanish entirely, not survive once somewhere. Documents are then
    * reassembled from their kept segments in order.
    *
    * Output per doc: (doc_id, n_segs, n_kept, text_clean) — `text_clean` is
    * NULL when every segment was boilerplate (the doc is pure furniture).
    *
    * Scale shape: segment hashing is map-only; document frequency is ONE
    * hash shuffle of 8-byte `xxhash64(segment)` keys with map-side partial
    * aggregation (segment text never shuffles — the [[chunkDedup]] bargain);
    * the hot-segment set is tiny by construction (only repeated furniture
    * crosses `minDocs`), so it broadcasts back as the removal probe and the
    * corpus-side reassembly groupBy is the only other exchange, keyed by
    * doc_id. No stage carries more than the corpus's segment-hash stream.
    */
  def boilerplateRemove(df: DataFrame, segSize: Int,
      minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs < 2 would delete every segment: $minDocs")
    val segs = chunkWords(df, segSize, segSize)
      .select(col("doc_id"), col("chunk_id"), col("chunk"),
        xxhash64(col("chunk")).as("__sh"))
    val hot = segs.groupBy("__sh")
      .agg(countDistinct(col("doc_id")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__sh"), lit(true).as("__hot"))
    segs.join(broadcast(hot), Seq("__sh"), "left")
      .groupBy("doc_id")
      .agg(cnt.as("n_segs"),
        sum(when(col("__hot").isNull, 1L).otherwise(0L)).as("n_kept"),
        // ordered reassembly: collect (chunk_id, chunk) survivors, sort by
        // position, join — nondeterministic collect order is absorbed by
        // the sort; NULL (not "") when nothing survives, matching SQL
        // string_agg-over-empty semantics
        nullif(array_join(transform(
          array_sort(collect_list(when(col("__hot").isNull,
            struct(col("chunk_id"), col("chunk"))))),
          x => x.getField("chunk")), " "), lit("")).as("text_clean"))
  }

  /** L26: corpus-trained bigram language-model scoring — the CCNet-style
    * statistical quality signal: documents whose word transitions are
    * improbable under the corpus's own bigram distribution (gibberish,
    * shuffled text, wrong-language fragments) score low; fluent text scores
    * high. Per doc: mean over positions of
    * `ln((C(w_i, w_{i+1}) + 1) / (C(w_i) + V))` — add-one-smoothed bigram
    * log-likelihood, V = corpus vocabulary size.
    *
    * Scale shape: counts are two hash aggregates over ONE exploded pass
    * each (map-side partials; keys are 8-byte xxhash64 word/bigram hashes —
    * strings never shuffle); scoring joins each doc's bigram OCCURRENCES to
    * the two count tables by hash (hash-keyed shuffle joins; at corpus
    * scale the count tables are the smaller sides and AQE broadcasts them
    * when they fit), then one doc_id-keyed mean. V is the one driver
    * scalar (a count, like tf-idf's doc total). Docs with < 2 words have
    * no transitions and drop out (the inner-join shape — same contract as
    * the SQL definition).
    */
  def lmScore(df: DataFrame, textCol: String = "text"): DataFrame = {
    val ws = words(col(textCol))
    val wh = transform(ws, w => xxhash64(w))
    val uc = df.select(explode(wh).as("__uh"))
      .groupBy("__uh").agg(cnt.as("__cu"))
    val bc = df.select(explode(ngramHashes(col(textCol), 2)).as("__bh"))
      .groupBy("__bh").agg(cnt.as("__cb"))
    val vocab = uc.count()
    val occ = df.select(col("doc_id"),
        explode(arrays_zip(
          slice(wh, lit(1), greatest(size(ws) - 1, lit(0))).as("u"),
          ngramHashes(col(textCol), 2).as("b"))).as("__p"))
      .select(col("doc_id"), col("__p.u").as("__uh"), col("__p.b").as("__bh"))
    occ.join(uc, "__uh").join(bc, "__bh")
      .select(col("doc_id"),
        log((col("__cb") + lit(1.0)) / (col("__cu") + lit(vocab.toDouble)))
          .as("__lp"))
      .groupBy("doc_id")
      // 6-dp rounding via the integer-scaled floor form both engines state
      // literally (the QualityModel.round8 adjudication): Spark's round()
      // is decimal HALF_UP while DuckDB's rounds the binary double, so a
      // mean landing within an ulp of a 6th-decimal .5 boundary could
      // round differently — and q_quality_model_full feeds this value into
      // GD, where one flipped feature diverges every weight
      .agg(cnt.as("n_bigrams"),
        (floor(avg("__lp") * lit(1e6) + lit(0.5)) / lit(1e6)).as("lm_score"))
  }

  /** L8+: deterministic concat-and-split sequence packing — the step that
    * turns a cleaned corpus into fixed-budget training sequences. Documents
    * are laid end-to-end in (`partitionCols`, `orderCols`) order; each doc's
    * start offset is the running token total before it, and it lands in
    * sequence `floor(start / budget)` at `start % budget` (docs straddle
    * boundaries, as concat-and-split tokenization does — no fragmentation,
    * 100% budget utilization, unlike first-fit).
    *
    * Determinism is the caller's contract, exactly as with `row_number`:
    * `orderCols` must be a TOTAL order within each partition (a duplicate
    * sort key leaves the tied docs' offsets engine-/run-dependent and the
    * training sequences non-reproducible) — pass a unique id, or a
    * tiebreak column after a coarser key.
    *
    * One shuffle on `partitionCols` + a per-partition sort (the window);
    * at 100 TB you pack per shard (source, date, file) rather than one
    * global stream — any partitioning works, the law `offset + n_tokens`
    * of doc i = `start` of doc i+1 holds within every partition.
    */
  def packSequences(df: DataFrame, budget: Long,
      partitionCols: Seq[String], orderCols: Seq[String],
      tokens: Column): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(orderCols.nonEmpty, "packSequences needs a total order")
    val before = Window.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select((partitionCols ++ orderCols).map(col) :+
        tokens.cast("long").as("n_tokens"): _*)
      .withColumn("start", coalesce(sum(col("n_tokens")).over(before), lit(0L)))
      .withColumn("seq_id", floor(col("start") / budget).cast("long"))
      .withColumn("seq_offset", col("start") % budget)
      .drop("start")
  }

  /** L2: remove corpus rows whose `textCol` appears verbatim in an eval
    * set — benchmark decontamination for a training pipeline.
    *
    * 100 TB shape: ONE corpus scan feeding a broadcast anti-join against
    * the distinct eval texts (eval suites are MBs, not TBs) — each corpus
    * row costs one hash probe of the broadcast table, which is already
    * the cheapest per-row test there is. (An earlier version also rode a
    * bloom filter in the join condition; a residual predicate on a hash
    * join only evaluates on rows whose key ALREADY matched, so the bloom
    * could never skip anything and just cost two extra eval-set jobs.)
    * For an eval set too large to broadcast, a bloom pre-filter earns its
    * keep as a separate pass: broadcast the bloom, keep bloom-negative
    * rows outright (no false negatives), and shuffle only the ~1% of
    * candidate rows into the exact anti-join.
    */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame,
      textCol: String): DataFrame = {
    val evalTexts = broadcast(
      evalSet.select(col(textCol).as("__eval_text")).distinct())
    corpus.join(evalTexts, col(textCol) === col("__eval_text"), "left_anti")
  }

  /** L9++: the too-big-to-broadcast path [[decontaminate]]'s scaladoc
    * promises, made real — two-pass bloom-then-exact decontamination for an
    * eval set that cannot live in every executor as a hash table.
    *
    * Pass 1 (build): one distributed aggregate over the eval side builds a
    * Bloom filter of `xxhash64(text)` (map-side partial bitsets OR-merge;
    * only the final filter — `optimalNumOfBits(n, fpp)` bits, a few MB for
    * millions of eval rows — ever reaches the driver, never eval rows).
    * Pass 2 (sweep): the corpus scans ONCE through the bloom probe — the
    * SAME codegen'd `BloomFilterMightContain` expression Spark's own
    * runtime-filter rewrite injects, with the filter inlined as a binary
    * literal riding the task broadcast. Bloom-negative rows are kept
    * outright (a Bloom filter has no false negatives); only the
    * bloom-positive sliver (~fpp of clean rows + true hits) enters the
    * exact anti-join, which may now SHUFFLE both sides on the text hash —
    * bounded by the sliver, not the corpus.
    *
    * Result equality with [[decontaminate]] is exact: the bloom only
    * routes rows between "kept by no-false-negative" and "kept by exact
    * anti-join"; false positives cost shuffle bytes, never rows.
    */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame,
      textCol: String, expectedEvalRows: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    val bf = evalSet.select(xxhash64(col(textCol)).as("__h"))
      .stat.bloomFilter("__h", expectedEvalRows, fpp)
    val bytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain = bridge.column(BloomFilterMightContain(
      Literal(bytes, org.apache.spark.sql.types.BinaryType),
      bridge.expressionEager(xxhash64(col(textCol)))))
    // NULL text probes NULL; SQL equality can never match it in the exact
    // anti-join, so it belongs to the kept-clean branch — coalesce both
    // branch predicates so the row lands in exactly one (a bare filter
    // would silently drop it from BOTH)
    val clean = corpus.filter(coalesce(!mightContain, lit(true)))
    val candidates = corpus.filter(coalesce(mightContain, lit(false)))
    // exact pass on the sliver: NOT broadcast — the premise is an eval set
    // too big for that; a shuffled anti-join on the sliver is the contract
    val survivors = candidates.join(
      evalSet.select(col(textCol).as("__eval_text")).distinct(),
      col(textCol) === col("__eval_text"), "left_anti")
    clean.unionByName(survivors)
  }

  /** L9+: n-gram overlap decontamination — the eval-leakage sweep training
    * sets run before release (the GPT-3 / Llama reports both describe it):
    * drop every corpus doc that shares ANY n-word span with an eval
    * document. Exact-match [[decontaminate]] misses quotes and partial
    * copies; span overlap catches them.
    *
    * Scale shape: both sides reduce to distinct 8-byte rolling n-gram
    * hashes ([[ngramHashes]] — no n-gram strings are ever materialized).
    * The eval side is small by construction and broadcasts into a semi
    * join, so the corpus is scanned once and only contaminated doc_ids
    * shuffle (for the distinct) — never text. Docs shorter than n words
    * carry no n-gram and are kept (nothing to leak).
    */
  def decontaminateNgram(corpus: DataFrame, evalSet: DataFrame,
      textCol: String = "text", n: Int = 8): DataFrame = {
    val evalGrams = broadcast(
      evalSet.select(explode(ngramHashes(col(textCol), n)).as("__ng"))
        .distinct())
    val contaminated = corpus
      .select(col("doc_id"), explode(ngramHashes(col(textCol), n)).as("__ng"))
      .join(evalGrams, Seq("__ng"), "left_semi")
      .select("doc_id").distinct()
    corpus.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** The audit view next to [[decontaminateNgram]]'s drop view: WHICH eval
    * doc leaked into which corpus doc, and how many distinct n-word spans
    * they share — what a release review actually reads before dropping
    * data.
    *
    * Scale shape (the [[decontaminateNgram]] order): the corpus gram
    * stream broadcast-joins the distinct eval grams FIRST — duplicates on
    * the corpus side are harmless because the aggregate below counts
    * DISTINCT grams — so only eval-matching grams ever reach a shuffle.
    * Distinct-ing the corpus side before the join would be an Aggregate
    * Catalyst cannot push the join through: a corpus-sized exchange of
    * the full (doc, gram) stream to pre-dedup rows the broadcast filter
    * is about to discard. The (doc, eval) pair aggregation is the single
    * hash shuffle, bounded by contaminated rows.
    *
    * `excludeSelfPairs` drops rows where `doc_id == eval_id` — correct
    * ONLY when the eval set is drawn from the corpus itself (shared id
    * space), e.g. auditing an already-ingested eval split. For an
    * independently-ingested eval set, ids are unrelated and a collision
    * would silently hide a genuinely contaminated doc: pass `false`
    * (the default) and every overlapping pair is reported.
    */
  def contaminationReport(corpus: DataFrame, evalSet: DataFrame,
      textCol: String = "text", n: Int = 8,
      excludeSelfPairs: Boolean = false): DataFrame = {
    val evalGrams = broadcast(evalSet
      .select(col("doc_id").as("eval_id"),
        explode(ngramHashes(col(textCol), n)).as("__ng"))
      .distinct())
    val matched = corpus
      .select(col("doc_id"), explode(ngramHashes(col(textCol), n)).as("__ng"))
      .join(evalGrams, Seq("__ng"))
    val pairs = if (excludeSelfPairs)
      matched.filter(col("doc_id") =!= col("eval_id")) else matched
    pairs.groupBy("doc_id", "eval_id")
      .agg(countDistinct(col("__ng")).as("n_shared"))
  }

  val all: Seq[Q] = Seq(

    // ---- L5+: overlapping chunking (doc → training context windows) ----------
    Q("q_chunk_docs", Some(
      // (DuckDB's table-valued generate_series can't see lateral columns,
      // so the oracle expands chunks as a list of structs and unnests)
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents WHERE doc_id < 200),
        |c AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, CAST(ceil(greatest(len(ws) - 32, 0)::DOUBLE / 24) AS BIGINT) + 1),
        |    i -> struct_pack(chunk_id := i,
        |                     chunk := array_to_string(ws[i*24+1 : i*24+32], ' '),
        |                     n_words := least(len(ws) - i*24, 32)))) AS ch
        |  FROM w)
        |SELECT doc_id, ch.chunk_id AS chunk_id, ch.chunk AS chunk,
        |  CAST(ch.n_words AS BIGINT) AS n_words
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),
      (s, d) => chunkWords(
        Tables(s, d, "documents").filter(col("doc_id") < 200),
        chunkSize = 32, stride = 24)
        .select("doc_id", "chunk_id", "chunk", "n_words")
        .orderBy("doc_id", "chunk_id")),

    // ---- L5++: Unicode NFC normalization (graft.functions.NfcNormalize) -----
    // Two raw encodings of the same visible text (precomposed é vs
    // e + U+0301) must converge to ONE string after NFC — the property
    // that makes exact-dedup hashes and decontamination grams see through
    // encoding variance. Each doc is expanded into both variants:
    // n_raw=2 / n_nfc=1 pins the convergence, len_nfc pins that combining
    // sequences actually composed (shorter by one codepoint).
    Q("q_normalize_text", Some(
      """WITH v AS (
        |  SELECT doc_id, 'Caf' || chr(233) || ' ' || text AS t
        |  FROM documents WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id, 'Cafe' || chr(769) || ' ' || text AS t
        |  FROM documents WHERE doc_id < 100)
        |SELECT doc_id,
        |  CAST(count(DISTINCT t) AS BIGINT) AS n_raw,
        |  CAST(count(DISTINCT nfc_normalize(t)) AS BIGINT) AS n_nfc,
        |  CAST(max(length(nfc_normalize(t))) AS BIGINT) AS len_nfc
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val base = Tables(s, d, "documents")
          .filter(col("doc_id") < 100).select("doc_id", "text")
        val v = base.select(col("doc_id"),
            concat(lit("Caf\u00e9 "), col("text")).as("t")) // precomposed
          .unionAll(base.select(col("doc_id"),         // decomposed e+U+0301
            concat(lit("Cafe\u0301 "), col("text")).as("t")))
        v.groupBy("doc_id")
          .agg(countDistinct(col("t")).as("n_raw"),
            countDistinct(graft.functions.NfcNormalize.nfc(col("t")))
              .as("n_nfc"),
            max(length(graft.functions.NfcNormalize.nfc(col("t"))))
              .cast("long").as("len_nfc"))
          .orderBy("doc_id")
      }),

    // ---- L1: exact dedup ---------------------------------------------------
    Q("q_dedup_exact", Some(
      """SELECT doc_id, n_copies FROM (
        |  SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |  FROM documents GROUP BY text)
        |ORDER BY doc_id""".stripMargin),
      (s, d) => exactDedup(Tables(s, d, "documents"), col("text"), col("doc_id"))
        .select(col("keep_id").as("doc_id"), col("n_copies"))
        .orderBy("doc_id")),

    // ---- L2: exact n-gram Jaccard on a bounded candidate set -----------------
    // (all-pairs is the verifier; LSH below is the scale path)
    Q("q_ngram_jaccard", Some(
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
        |      i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS sh
        |  FROM documents WHERE doc_id < 150)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jac
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
        |ORDER BY id_a, id_b""".stripMargin),
      (s, d) => {
        // intersect 64-bit shingle HASHES, not shingle strings: Jaccard is
        // identical (collisions at 2^-64 are negligible) and the per-pair
        // array_intersect/array_union compares longs instead of strings —
        // measured several-fold cheaper. Window = 150 docs (11,175 pairs):
        // the smallest prefix whose pairs clear the 0.2 threshold at EVERY
        // driver SF, so the oracle never degenerates to an empty match
        val docs = Tables(s, d, "documents").filter(col("doc_id") < 150)
          .select(col("doc_id"),
            array_distinct(ngramHashes(col("text"), 3)).as("sh"))
        val a = docs.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
        val b = docs.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
        a.join(b, col("id_a") < col("id_b"))
          .withColumn("j", jaccard(col("sh_a"), col("sh_b")))
          .filter(col("j") >= 0.2)
          .select(col("id_a"), col("id_b"), round(col("j"), 4).as("jac"))
          .orderBy("id_a", "id_b")
      }),

    // ---- L2c: n-gram containment (asymmetric near-dup) -------------------------
    // The oracle is brute-force all-pairs containment over the same
    // 150-doc window as q_ngram_jaccard; the engine side runs the
    // inverted-index plan (groupBy hash → per-hash pairs), so hash
    // equality ALSO proves the index form computes exactly the textbook
    // pairwise definition. Threshold 0.5 keeps matches non-empty at every
    // SF (containment >= Jaccard pointwise, and the window's >= 0.5
    // Jaccard pairs are non-empty by the q_dedup_minhash fixture).
    Q("q_containment", Some(
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
        |      i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS sh
        |  FROM documents WHERE doc_id < 150)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / least(len(a.sh), len(b.sh)), 4) AS containment
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE len(a.sh) > 0 AND len(b.sh) > 0
        |  AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / least(len(a.sh), len(b.sh)) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin),
      (s, d) => containmentPairs(
          Tables(s, d, "documents").filter(col("doc_id") < 150), 0.5)
        .orderBy("id_a", "id_b")),

    // ---- L2: SimHash over the near-dup pair graph, oracled via its LAW ---------
    // SimHash bits are engine-defined, so the frame pairs them with ground
    // truth the oracle CAN recompute: the exact >= 0.5 Jaccard pairs (the
    // same brute-force twin as q_dedup_minhash) carry their exact Jaccard
    // plus the law boolean that near-duplicate texts collide to nearby
    // SimHashes (hamming <= 20 of 64 — measured max on the fixture pairs
    // is 12; a random pair centers at 32). The pair source is the LSH
    // scale path, not all-pairs.
    Q("q_simhash", Some(
      """WITH s AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
        |    i -> array_to_string(string_split(text,' ')[i:i+2], ' '))) AS sh
        |  FROM documents)
        |SELECT id_a, id_b, jaccard, true AS hamming_ok FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |          / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        |WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val pairs = graft.llm.VectorOps.minhashPairsNative(docs, 0.5,
          exactVerify = true, maxBucket = 1000)
        // (doc_id, 8-byte sim) — snapshotted EAGERLY so the corpus-wide
        // simhash scan runs once: both join sides below are
        // concurrently-ready stages of the same job, and a lazy snapshot
        // lets each compute the scan before the first's blocks land
        val sh = docs.select(col("doc_id"), simhash64("text").as("sim"))
          .localCheckpoint()
        pairs
          .join(sh.select(col("doc_id").as("id_a"), col("sim").as("sim_a")), "id_a")
          .join(sh.select(col("doc_id").as("id_b"), col("sim").as("sim_b")), "id_b")
          .select(col("id_a"), col("id_b"), col("jaccard"),
            (expr("bit_count(sim_a ^ sim_b)") <= 20).as("hamming_ok"))
          .orderBy("id_a", "id_b")
      }),

    // ---- L2: eval-set decontamination (broadcast anti-join) ---------------------
    // The oracle is the plain NOT EXISTS anti-join. The 10%-of-corpus eval
    // slice keeps both the match and keep paths populated.
    Q("q_decontaminate", Some(
      """SELECT d.doc_id FROM documents d WHERE NOT EXISTS (
        |  SELECT 1 FROM documents e
        |  WHERE e.doc_id % 10 = 0 AND e.text = d.text)
        |ORDER BY d.doc_id""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        decontaminate(docs, docs.filter(col("doc_id") % 10 === 0), "text")
          .select("doc_id").orderBy("doc_id")
      }),

    // ---- L9++: two-pass bloom decontamination (too-big-to-broadcast path) -------
    // Same oracle as q_decontaminate — the bloom is a router, not a
    // semantics change; hash equality proves no row leaks through either
    // the no-false-negative shortcut or the exact sliver pass.
    Q("q_decontaminate_bloom", Some(
      """SELECT d.doc_id FROM documents d WHERE NOT EXISTS (
        |  SELECT 1 FROM documents e
        |  WHERE e.doc_id % 10 = 0 AND e.text = d.text)
        |ORDER BY d.doc_id""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        decontaminateBloom(docs, docs.filter(col("doc_id") % 10 === 0),
          "text", expectedEvalRows = 100000L)
          .select("doc_id").orderBy("doc_id")
      }),

    // ---- L9+: n-gram OVERLAP decontamination (eval-leakage span sweep) ----------
    // Drops every doc sharing any 8-word span with the eval slice — the
    // check exact-match decontamination can't do (quotes, partial copies).
    // The oracle rebuilds the 8-gram sets as strings; the engine compares
    // rolling 64-bit hashes — same set semantics, no materialized n-grams.
    Q("q_decontaminate_ngram", Some(
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text,' ')) - 7, 0)),
        |    i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS ng
        |  FROM documents),
        |bad AS (
        |  SELECT DISTINCT g.doc_id FROM g
        |  WHERE g.ng IN (SELECT ng FROM g WHERE doc_id % 10 = 0))
        |SELECT d.doc_id FROM documents d
        |WHERE d.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY d.doc_id""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        decontaminateNgram(docs, docs.filter(col("doc_id") % 10 === 0))
          .select("doc_id").orderBy("doc_id")
      }),

    // ---- L9+: contamination AUDIT report (pair grain, shared-span counts) -------
    // The view a release review reads before dropping data: which eval doc
    // leaked into which corpus doc and how many distinct 8-word spans they
    // share. The oracle rebuilds the 8-gram sets as strings and joins them.
    Q("q_contamination_report", Some(
      """WITH g AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text,' ')) - 7, 0)),
        |    i -> array_to_string(string_split(text,' ')[i:i+7], ' ')))) AS ng
        |  FROM documents)
        |SELECT g.doc_id, e.doc_id AS eval_id, count(*) AS n_shared
        |FROM g JOIN (SELECT * FROM g WHERE doc_id % 10 = 0) e
        |  ON g.ng = e.ng AND g.doc_id <> e.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        // eval split drawn from the corpus itself -> shared id space, so
        // self-pair exclusion is meaningful (matches the oracle's <>)
        contaminationReport(docs, docs.filter(col("doc_id") % 10 === 0),
          excludeSelfPairs = true)
          .orderBy("doc_id", "eval_id")
      }),

    // ---- U∅/L2: cross-source contamination via composed minhash signatures ------
    // The Aggregator (§2.10 custom-aggregate surface) produces engine-
    // defined union signatures, so the frame carries ground truth next to
    // the estimate: exact_jac is the true shingle-set Jaccard between the
    // two sources, computed DISTRIBUTED on the Spark side (distinct
    // (source, shingle-hash) rows -> per-shingle source pairing -> |A∩B|,
    // with |A∪B| = |A|+|B|-|A∩B|; shuffles carry 8-byte hashes, never
    // shingle sets) and recomputed brute-force by DuckDB. est_ok pins the
    // estimator law |est - exact| <= 0.15 (64 perms => sigma <= 1/16;
    // measured max deviation on the fixture is 0.085).
    Q("q_source_contamination", Some(
      """WITH s AS (
        |  SELECT source, unnest(list_distinct(list_transform(
        |    generate_series(1, greatest(len(string_split(text,' ')) - 2, 0)),
        |    i -> array_to_string(string_split(text,' ')[i:i+2], ' ')))) AS sh
        |  FROM documents),
        |d AS (SELECT DISTINCT source, sh FROM s),
        |c AS (SELECT source, count(*) AS n FROM d GROUP BY source),
        |i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS ni
        |      FROM d a JOIN d b ON a.sh = b.sh AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT ca.source AS src_a, cb.source AS src_b,
        |  round(CAST(coalesce(i.ni, 0) AS DOUBLE)
        |        / (ca.n + cb.n - coalesce(i.ni, 0)), 4) AS exact_jac,
        |  true AS est_ok
        |FROM c ca JOIN c cb ON ca.source < cb.source
        |LEFT JOIN i ON i.src_a = ca.source AND i.src_b = cb.source
        |ORDER BY src_a, src_b""".stripMargin),
      (s, d) => sourceContaminationChecked(s, Tables(s, d, "documents"))
        .orderBy("src_a", "src_b")),

    // ---- L5: document fingerprint, oracled via its LAWS -------------------------
    // The 64-bit value is engine-defined; its CONTRACT is not: equal token
    // sequences <=> equal fingerprints. fp_unique pins that in both
    // directions against ground truth from the texts: a fingerprint is
    // shared exactly when its text is (the space split is injective, so
    // equal texts <=> equal token sequences; sf0.1 holds 4,992 distinct
    // texts of 5,000, and its 16 duplicated rows read false) — a collision
    // or nondeterminism breaks the hash match; order_sensitive
    // pins the <= direction per row against ground truth DuckDB computes
    // from the token sequences themselves: the fingerprint of the REVERSED
    // token stream differs exactly when reversal changes the sequence
    // (single-word and palindromic docs must collide, nothing else may).
    Q("q_fingerprint", Some(
      """SELECT doc_id, count(*) OVER (PARTITION BY text) = 1 AS fp_unique,
        |  list_reverse(string_split(text, ' ')) <> string_split(text, ' ')
        |    AS order_sensitive
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => Tables(s, d, "documents")
        .select(col("doc_id"), fingerprint(col("text")).as("fp"),
          xxhash64(reverse(words(col("text")))).as("fp_rev"))
        .withColumn("fp_unique",
          count(lit(1)).over(Window.partitionBy("fp")) === 1)
        .withColumn("order_sensitive", col("fp") =!= col("fp_rev"))
        .select("doc_id", "fp_unique", "order_sensitive")
        .orderBy("doc_id")),

    // ---- L5: term-frequency top-k -----------------------------------------------
    Q("q_tf_topk", Some(
      """SELECT word, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin),
      (s, d) => Tables(s, d, "documents")
        .select(explode(words(col("text"))).as("word"))
        .groupBy("word").agg(cnt.as("cnt"))
        .orderBy(desc("cnt"), asc("word"))
        .limit(20)),

    // ---- L5: per-language corpus stats --------------------------------------------
    Q("q_text_stats", Some(
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
        |  quantile_cont(n_chars, 0.5) AS median_chars,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
      (s, d) => Tables(s, d, "documents")
        .groupBy("lang").agg(
          cnt.as("n_docs"),
          (sum("n_chars").cast("double") / cnt).as("avg_chars"),
          percentile(col("n_chars"), lit(0.5)).as("median_chars"),
          min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"))
        .orderBy("lang")),

    // ---- L5: heuristic language ID (stopword-marker rule, SQL-twinned) -------------
    Q("q_lang_id", Some(
      s"""SELECT doc_id,
        |  CASE WHEN CAST(len(list_filter(string_split(text, ' '),
        |         w -> w IN ($StopwordsSql))) AS DOUBLE)
        |       / len(string_split(text, ' ')) > 0.02
        |       THEN 'en_like' ELSE 'other' END AS pred_lang
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val w = words(col("text"))
        val stopRatio = size(filter(w, x => x.isin(STOPWORDS: _*)))
          .cast("double") / size(w)
        Tables(s, d, "documents")
          .select(col("doc_id"),
            when(stopRatio > 0.02, "en_like").otherwise("other")
              .as("pred_lang"))
          .orderBy("doc_id")
      }),

    // ---- L5: quality scoring (length / stopword / word-length ratios) ---------------
    Q("q_quality_score", Some(
      s"""SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(len(list_filter(string_split(text, ' '),
        |       w -> w IN ($StopwordsSql))) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS stop_ratio,
        |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |    / len(string_split(text, ' ')) AS mean_word_len
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val w = words(col("text"))
        Tables(s, d, "documents").select(
          col("doc_id"),
          size(w).cast("long").as("n_words"),
          (size(filter(w, x => x.isin(STOPWORDS: _*))).cast("double")
            / size(w)).as("stop_ratio"),
          ((length(col("text")) - (size(w) - 1)).cast("double") / size(w))
            .as("mean_word_len"))
          .orderBy("doc_id")
      }),

    // ---- L10+: ADAPTIVE quality gate (threshold from the corpus's own -------
    // quantile) — "drop the worst 20%" where the cutoff is a KLL-sketch
    // quantile, not a global sort: pass 1 aggregates the score sketch
    // (map-side partials, KB-size state), pass 2 broadcasts the 1-row
    // cutoff and filters. At 100 TB that is two scans and zero sorts —
    // exact percentile would sort the corpus. The exact p20 column binds
    // the frame (small data affords it); the law: the sketch-gated kept
    // fraction must land in 0.8 ± rank-error slack. DataSketches KLL
    // compaction is RANDOMIZED (no fixed seed), so the booleans are
    // probabilistic per run — the ±0.06 band is ~4x the k=200 99%-conf
    // rank error (~1.65%), making a flake vanishingly unlikely but not
    // impossible; SketchAggsSpec asserts the same band with the actual
    // fraction visible in the failure message.
    Q("q_quality_adaptive", Some(
      """WITH s AS (
        |  SELECT CAST(length(text) - (len(string_split(text, ' ')) - 1)
        |    AS DOUBLE) / len(string_split(text, ' ')) AS score
        |  FROM documents)
        |SELECT CAST(count(*) AS BIGINT) AS n_total,
        |  round(quantile_cont(score, 0.2), 4) AS exact_p20,
        |  true AS ok_kept_frac
        |FROM s""".stripMargin),
      (s, d) => {
        import graft.functions.SketchAggs._
        val w = words(col("text"))
        val scores = Tables(s, d, "documents").select(
          ((length(col("text")) - (size(w) - 1)).cast("double") / size(w))
            .as("score"))
        val agg1 = scores.agg(
            kllAgg(col("score")).as("sk"),
            cnt.as("n_total"),
            round(percentile(col("score"), lit(0.2)), 4).as("exact_p20"))
          .select(col("n_total"), col("exact_p20"),
            element_at(kllQuantiles(col("sk"), Seq(0.2)), 1).as("cut"))
        scores.crossJoin(broadcast(agg1))
          .groupBy("n_total", "exact_p20")
          .agg((sum(when(col("score") >= col("cut"), 1L).otherwise(0L))
            .cast("double") / max("n_total")).between(0.74, 0.86)
            .as("ok_kept_frac"))
          .select("n_total", "exact_p20", "ok_kept_frac")
      }),

    // ---- L5: token counting — whitespace + BPE-ish regex pieces ----------------------
    Q("q_token_count", Some(
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
        |       AS BIGINT) AS re_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => Tables(s, d, "documents").select(
        col("doc_id"),
        size(words(col("text"))).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"))
          .cast("long").as("re_tokens"))
        .orderBy("doc_id")),

    // ---- L5/L11: top-bigram concentration (Gopher repetition signal) -----------
    // The oracle rebuilds the bigrams as strings and takes the same
    // max/total ratio; the engine counts 64-bit gram hashes (multiplicity
    // preserved), so hash-equality also proves the hashed-count parity.
    Q("q_top_ngram_frac", Some(
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |b AS (
        |  SELECT doc_id, unnest(list_transform(
        |    generate_series(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i + 1])) AS g
        |  FROM w WHERE len(ws) >= 2),
        |c AS (SELECT doc_id, g, count(*) AS n FROM b GROUP BY 1, 2)
        |SELECT doc_id, round(CAST(max(n) AS DOUBLE) / sum(n), 4)
        |         AS top_ngram_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, d) => topNgramFrac(Tables(s, d, "documents")).orderBy("doc_id")),

    // ---- L1+L5 composed: the corpus-cleaning pipeline as ONE flow ---------------
    // quality gate → exact dedup (keep min id) → per-source survivor counts:
    // the operators are individually oracled above; this key proves they
    // COMPOSE — the shape of a real "clean the crawl" job. One scan feeds
    // the gate; dedup is the single hash shuffle; counts are map-side
    // partial. Rows: the per-source survivor histogram.
    Q("q_corpus_clean", Some(
      s"""WITH scored AS (
        |  SELECT doc_id, source, text,
        |    len(string_split(text, ' ')) AS n_words,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         w -> w IN ($StopwordsSql))) AS DOUBLE)
        |      / len(string_split(text, ' ')) AS stop_ratio
        |  FROM documents),
        |kept AS (
        |  SELECT * FROM scored WHERE n_words >= 30 AND stop_ratio > 0.01),
        |dd AS (SELECT text, min(doc_id) AS keep_id FROM kept GROUP BY text)
        |SELECT k.source, count(*) AS n_docs
        |FROM kept k JOIN dd ON k.doc_id = dd.keep_id
        |GROUP BY k.source ORDER BY k.source""".stripMargin),
      (s, d) => {
        val w = words(col("text"))
        val kept = Tables(s, d, "documents")
          .withColumn("n_words", size(w).cast("long"))
          .withColumn("stop_ratio",
            size(filter(w, x => x.isin(STOPWORDS: _*))).cast("double") / size(w))
          .filter(col("n_words") >= 30 && col("stop_ratio") > 0.01)
        val keeps = exactDedup(kept, col("text"), col("doc_id"))
          .select(col("keep_id").as("doc_id"))
        kept.join(keeps, "doc_id")
          .groupBy("source").agg(cnt.as("n_docs"))
          .orderBy("source")
      }),

    // ---- L∅: the END-TO-END training-prep job as ONE oracled flow --------------
    // What a user actually runs before training: quality gate → exact
    // dedup → eval-set decontamination → weighted source mixing → shard
    // assignment → per-shard accounting. Every stage is an operator already
    // verified on its own (q_corpus_clean, q_dedup_exact, q_decontaminate,
    // q_mix_weighted, q_shard_shuffle); this key proves they COMPOSE.
    // Scale shape of the whole job: gate + mix + shard are row-local
    // (map-only), dedup is the single text-keyed hash shuffle (sha2 at
    // 100 TB), decontamination is a broadcast anti-join, and the final
    // accounting aggregates map-side — the corpus crosses the wire once.
    Q("q_pipeline_training", Some(
      s"""WITH scored AS (
        |  SELECT doc_id, source, text,
        |    len(string_split(text, ' ')) AS n_words,
        |    CAST(len(list_filter(string_split(text, ' '),
        |         w -> w IN ($StopwordsSql))) AS DOUBLE)
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
        |       ELSE 20 END)
        |SELECT (doc_id % 1000003) * 31 % 8 AS shard, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_tokens,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM mix GROUP BY 1 ORDER BY shard""".stripMargin),
      (s, d) => {
        val w = words(col("text"))
        val docs = Tables(s, d, "documents")
        val kept = docs
          .withColumn("n_words", size(w).cast("long"))
          .withColumn("stop_ratio",
            size(filter(w, x => x.isin(STOPWORDS: _*))).cast("double") / size(w))
          .filter(col("n_words") >= 30 && col("stop_ratio") > 0.01)
        val keeps = exactDedup(kept, col("text"), col("doc_id"))
          .select(col("keep_id").as("doc_id"))
        val deduped = kept.join(keeps, "doc_id")
        val decon = decontaminate(deduped,
          docs.filter(col("doc_id") % 10 === 0), "text")
        val mixed = decon
          .withColumn("rate",
            when(col("source") === "src0", 100)
              .when(col("source").isin("src1", "src2", "src3"), 50)
              .otherwise(20))
          .filter((col("doc_id") % 1000003L) * 31L % 100L < col("rate"))
        mixed
          .select(((col("doc_id") % 1000003L) * 31L % 8L).as("shard"),
            col("n_words"), col("doc_id"))
          .groupBy("shard")
          .agg(cnt.as("n_docs"), sum("n_words").as("n_tokens"),
            sum("doc_id").as("id_sum"))
          .orderBy("shard")
      }),

    // ---- L5: Gopher-style quality-rule battery ---------------------------------
    Q("q_quality_rules", Some(
      """WITH w AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
        |m AS (
        |  SELECT doc_id, text, ws, len(ws) AS n_words,
        |    CAST(length(text) - (len(ws) - 1) AS DOUBLE) / len(ws) AS mean_word_len,
        |    1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_word_frac,
        |    CASE WHEN len(ws) < 3 THEN 0.0
        |         ELSE 1.0 - CAST(len(list_distinct(list_transform(
        |                generate_series(1, len(ws) - 2),
        |                i -> array_to_string(ws[i:i+2], ' ')))) AS DOUBLE)
        |              / (len(ws) - 2) END AS dup_trigram_frac,
        |    CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS DOUBLE)
        |      / length(text) AS symbol_frac
        |  FROM w)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  round(mean_word_len, 6) AS mean_word_len,
        |  round(dup_word_frac, 6) AS dup_word_frac,
        |  round(dup_trigram_frac, 6) AS dup_trigram_frac,
        |  round(symbol_frac, 6) AS symbol_frac,
        |  (n_words BETWEEN 30 AND 100000
        |   AND round(mean_word_len, 6) BETWEEN 2 AND 12
        |   AND round(dup_word_frac, 6) <= 0.9
        |   AND round(dup_trigram_frac, 6) <= 0.35
        |   AND round(symbol_frac, 6) <= 0.05) AS keep
        |FROM m ORDER BY doc_id""".stripMargin),
      (s, d) => qualityRules(Tables(s, d, "documents")).orderBy("doc_id")),

    // ---- A7+/L28: Count-Min heavy hitters — the mergeable frequency sketch ------
    // The frequency-side companion to the HLL distinct sketch
    // (q_distinct_sketch): a CMS over every word occurrence answers "how
    // often does X appear" from fixed bytes per partition, merged
    // counter-wise (commutative — merge order can't change estimates,
    // which keeps the law deterministic under Spark's partition-order
    // nondeterminism). Law, per exact top-10 word: overestimate-only and
    // within eps x N — the classic CMS guarantee. DuckDB states the exact
    // top-10 and the expected outcome.
    Q("q_heavy_hitters", Some(
      """WITH w AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
        |c AS (SELECT w, count(*) AS cnt FROM w GROUP BY w
        |      ORDER BY cnt DESC, w LIMIT 10)
        |SELECT w AS word, cnt, true AS est_ok FROM c
        |ORDER BY cnt DESC, word""".stripMargin),
      (s, d) => {
        import s.implicits._
        val eps = 0.001
        // One tokenize scan feeds one map-side-combined hash aggregate; the
        // VOCAB-sized (word, count) frame — bounded by distinct words, not
        // occurrences — is what gets cached and feeds all three consumers
        // (sketch, exact top-10, N). Building the CMS from weighted counts
        // is bit-identical to per-occurrence inserts (same seeded hashes,
        // counters sum the same), so the eps x N law is unchanged — but the
        // corpus-sized exploded frame never materializes anywhere (the r7
        // localCheckpoint here wrote every word occurrence to executor
        // disk, ~200x the document bytes at 100 TB).
        val agg = Tables(s, d, "documents")
          .select(explode(words(col("text"))).as("w"))
          .groupBy("w").agg(cnt.as("cnt"))
          .persist()
        try {
          val n = agg.agg(sum("cnt")).head().getLong(0)
          val sketch = agg.select(col("w"), col("cnt")).as[(String, Long)]
            .rdd.treeAggregate(
              org.apache.spark.util.sketch.CountMinSketch
                .create(eps, 0.99, 42))(
              (sk, wc) => { sk.add(wc._1, wc._2); sk },
              (a, b) => { a.mergeInPlace(b); a })
          val top = agg.orderBy(desc("cnt"), asc("w")).limit(10)
            .as[(String, Long)].collect()
          val out = top.toSeq.map { case (w, c) =>
            val est = sketch.estimateCount(w)
            (w, c, est >= c && est <= c + (eps * n).toLong)
          }
          out.toDF("word", "cnt", "est_ok")
            .orderBy(desc("cnt"), asc("word"))
        } finally agg.unpersist()
      }),

    // ---- L26: corpus-trained bigram LM quality score -----------------------------
    // The oracle recomputes the identical add-one-smoothed bigram
    // log-likelihood by bigram STRINGS; the engine shuffles 8-byte hashes —
    // hash equality (with the score rounded to absorb summation-order ulps)
    // proves the hashed substrate loses nothing.
    Q("q_lm_score", Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |uni AS (SELECT unnest(ws) AS u FROM w),
        |uc AS (SELECT u, count(*) AS cu FROM uni GROUP BY u),
        |v AS (SELECT count(*) AS vs FROM uc),
        |occ AS (
        |  SELECT doc_id, p.u AS u, p.b AS b FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, len(ws) - 1),
        |      i -> struct_pack(u := ws[i],
        |                       b := array_to_string(ws[i:i+1], ' ')))) AS p
        |    FROM w)),
        |bc AS (SELECT b, count(*) AS cb FROM occ GROUP BY b),
        |sc AS (
        |  SELECT o.doc_id, ln((bc.cb + 1.0) / (uc.cu + v.vs)) AS lp
        |  FROM occ o JOIN uc ON o.u = uc.u JOIN bc ON o.b = bc.b
        |  CROSS JOIN v)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  floor(avg(lp) * 1e6 + 0.5) / 1e6 AS lm_score
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, d) => lmScore(Tables(s, d, "documents")).orderBy("doc_id")),

    // ---- L1 at paragraph grain: corpus-level chunk dedup -------------------------
    // (oracle partitions by chunk TEXT; the engine shuffles the 64-bit
    // chunk hash — hash-equality of the survivor histograms proves the
    // hashed shuffle loses nothing on this corpus)
    Q("q_chunk_dedup", Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, CAST(ceil(greatest(len(ws) - 32, 0)::DOUBLE / 32) AS BIGINT) + 1),
        |    i -> struct_pack(chunk_id := i,
        |                     chunk := array_to_string(ws[i*32+1 : i*32+32], ' ')))) AS ch
        |  FROM w),
        |r AS (
        |  SELECT doc_id, ch.chunk_id AS chunk_id,
        |    row_number() OVER (PARTITION BY ch.chunk ORDER BY doc_id, ch.chunk_id) AS rn
        |  FROM c)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, d) => chunkDedup(Tables(s, d, "documents"), chunkSize = 32)
        .orderBy("doc_id")),

    // ---- L19: corpus-frequency boilerplate removal -----------------------------
    // Segments repeated across >= 2 distinct docs vanish from EVERY doc;
    // docs reassemble from their kept segments in order. The oracle
    // recomputes document frequency by segment TEXT and rebuilds the
    // cleaned text with an ordered filtered string_agg — hash equality
    // (including the reassembled text) proves the 8-byte-hash shuffle and
    // the sort-after-collect reassembly lose nothing.
    Q("q_boilerplate", Some(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |c AS (
        |  SELECT doc_id, unnest(list_transform(
        |    range(0, CAST(ceil(greatest(len(ws) - 8, 0)::DOUBLE / 8) AS BIGINT) + 1),
        |    i -> struct_pack(chunk_id := i,
        |                     seg := array_to_string(ws[i*8+1 : i*8+8], ' ')))) AS ch
        |  FROM w),
        |g AS (SELECT doc_id, ch.chunk_id AS chunk_id, ch.seg AS seg FROM c),
        |f AS (SELECT seg, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
        |j AS (SELECT g.doc_id, g.chunk_id, g.seg, f.nd >= 2 AS hot
        |      FROM g JOIN f USING (seg))
        |SELECT doc_id, count(*) AS n_segs,
        |  CAST(sum(CASE WHEN NOT hot THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  string_agg(seg, ' ' ORDER BY chunk_id) FILTER (WHERE NOT hot)
        |    AS text_clean
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, d) => boilerplateRemove(Tables(s, d, "documents"),
        segSize = 8, minDocs = 2).orderBy("doc_id")),

    // ---- L8+: concat-and-split sequence packing ----------------------------------
    Q("q_pack_sequences", Some(
      """WITH t AS (
        |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start
        |  FROM t)
        |SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(floor(start / 2048) AS BIGINT) AS seq_id,
        |  start % 2048 AS seq_offset
        |FROM s ORDER BY doc_id""".stripMargin),
      (s, d) => packSequences(Tables(s, d, "documents"), budget = 2048L,
          partitionCols = Seq("lang"), orderCols = Seq("doc_id"),
          tokens = size(words(col("text"))))
        .select("doc_id", "lang", "n_tokens", "seq_id", "seq_offset")
        .orderBy("doc_id")),

    // ---- L5: per-doc TF-IDF top terms ---------------------------------------------
    // ONE exploded token pass builds tf; df and the doc count derive from
    // tf's (doc, term) relation, never re-reading the corpus. The per-doc
    // top-3 runs through the TopKPerKey heap plan — the exchange carries at
    // most 3 rows per doc per map partition instead of every (doc, term)
    // pair (the window form shuffles the full tf matrix, which at 100 TB
    // is corpus-sized). Order (tfidf DESC, term) is total per doc.
    Q("q_tfidf_topk", Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id < 100),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n FROM tok),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf * ln(CAST(n.n AS DOUBLE) / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |r AS (SELECT doc_id, term, tfidf,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tfidf FROM r WHERE rn <= 3
        |ORDER BY doc_id, tfidf DESC, term""".stripMargin),
      (s, d) => {
        val tok = Tables(s, d, "documents").filter(col("doc_id") < 100)
          .select(col("doc_id"), explode(words(col("text"))).as("term"))
        // tf is the ONLY consumer of the exploded corpus; df and n derive
        // from tf's much smaller (doc, term) relation (one row per pair, so
        // count(*) per term == docs containing the term). The checkpoint
        // stops Spark re-tokenizing the corpus for each derived aggregate.
        val tf = tok.groupBy("doc_id", "term").agg(cnt.as("tf"))
          .localCheckpoint()
        val dfT = tf.groupBy("term").agg(cnt.as("df"))
        val n = tf.agg(countDistinct("doc_id").as("n"))
        val scored = tf.join(dfT, "term")
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"),
            round(col("tf") * log(col("n").cast("double") / col("df")), 6)
              .as("tfidf"))
        graft.plans.TopK.perKey(scored, Seq("doc_id"),
            Seq(col("tfidf").desc, col("term").asc), k = 3)
          .orderBy(col("doc_id"), col("tfidf").desc, col("term"))
      }),

    // ---- L5: PII/boilerplate redaction (emails/URLs -> placeholders) -----------------
    Q("q_redact", Some(
      s"""SELECT doc_id,
        |  regexp_replace(regexp_replace(text,
        |    '$EmailRe', '<EMAIL>', 'g'),
        |    '$UrlRe', '<URL>', 'g') AS clean,
        |  (regexp_replace(regexp_replace(text,
        |    '$EmailRe', '<EMAIL>', 'g'),
        |    '$UrlRe', '<URL>', 'g') <> text) AS changed
        |FROM documents ORDER BY doc_id""".stripMargin),
      (s, d) => Tables(s, d, "documents")
        // two-stage select: `clean` is referenced twice below, and a
        // multi-referenced non-cheap alias is exactly what CollapseProject
        // refuses to inline — so the two-regexp chain runs once per row,
        // not twice
        .select(col("doc_id"), col("text"), redact(col("text")).as("clean"))
        .select(col("doc_id"), col("clean"),
          (col("clean") =!= col("text")).as("changed"))
        .orderBy("doc_id"))
  )
}
