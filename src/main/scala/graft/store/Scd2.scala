package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** S23: slowly-changing-dimension (type 2) maintenance — row-level
  * validity intervals, the warehouse capability BETWEEN table-grain time
  * travel (a retained log version answers "the whole table as of version
  * N") and row-grain MERGE (which overwrites history): every key keeps
  * its full attribute history as `[valid_from, valid_to)` versions, and
  * any past date is queryable with a plain predicate — no log replay, no
  * version archaeology. The reference's Delta tables get this from
  * hand-written MERGE recipes; here it is an operator.
  *
  * Layout and scale stance: a DIMENSION is small relative to facts (the
  * reference's six curated tables are all fact-shaped; dims are the
  * customer/part side of the star), so each apply REWRITES the dimension
  * through [[TableStore.overwriteVersioned]] — one atomic log commit,
  * readers never see a half-applied batch, and the previous version
  * remains readable (crash rollback = do nothing). Row counts
  * grow only by the number of CHANGED keys per apply. Fact-side history
  * at 100 TB is the MERGE/append machinery's job, not this one's.
  *
  * Change detection is null-safe whole-attribute equality (`<=>` over the
  * attr struct): an update batch row that equals the key's current
  * attributes is a no-op, so re-applying the same batch at the same
  * effective date is idempotent (law-tested).
  */
object Scd2 {

  private val From = "valid_from"
  private val To = "valid_to" // null = current

  private def attrCols(df: DataFrame, keyCols: Seq[String]): Seq[String] =
    df.columns.filterNot(c =>
      keyCols.contains(c) || c == From || c == To).toSeq

  /** Initialize the dimension: every row current from `effective`. */
  def init(dim: DataFrame, dir: String, effective: java.sql.Date): Unit =
    TableStore.overwriteVersioned(
      dim.withColumn(From, lit(effective))
        .withColumn(To, lit(null).cast("date")), dir)

  /** Apply one update batch (key + full attribute set per row) effective
    * at `effective`: changed keys close their current version and open a
    * new one; unchanged rows are no-ops; unknown keys insert. Validity is
    * right-open — the closed version covers `[old_from, effective)`.
    * `effective` must be strictly after every existing `valid_from`
    * (out-of-order history would silently corrupt intervals — fail loud).
    */
  def apply(spark: SparkSession, dir: String, updates: DataFrame,
      keyCols: Seq[String], effective: java.sql.Date): Unit = {
    // batch-only validation, outside the retry loop
    // One row per key, or the left join below fans out and writes DUPLICATE
    // open (valid_to IS NULL) versions — Delta MERGE fails on multiple
    // matches for the same reason. Dim-sized count, cheap.
    val updCount = updates.count()
    require(updates.select(keyCols.map(col): _*).distinct().count() == updCount,
      "update batch must carry exactly one row per key")
    // Optimistic transaction (Delta's retry loop): the whole read-derive
    // body re-runs against the new current version if another applier
    // committed first — two OVERLAPPING appliers both land, serially.
    TableStore.transactVersioned(spark, dir) {
      val dim = TableStore.read(spark, dir)
      val attrs = attrCols(dim, keyCols)
      require(attrs.nonEmpty, "dimension has no attribute columns")
      // allow equality so re-applying a batch at its own effective date is
      // the idempotent no-op the change detection makes it; anything EARLIER
      // would corrupt intervals — fail loud. (A DIFFERENT batch at the same
      // date closes same-day versions into empty [d, d) intervals — visible
      // in history, invisible to asOf, consistent either way.)
      // null on an EMPTY dimension (a legitimate init state): every batch
      // row is then an insert and there is no interval to protect
      val maxFrom = dim.agg(max(col(From))).head().getDate(0)
      require(maxFrom == null || !maxFrom.after(effective),
        s"effective $effective must not precede the newest valid_from $maxFrom")
      val upd = updates.select(
        keyCols.map(col) :+ struct(attrs.map(col): _*).as("_new"): _*)
      val history = dim.filter(col(To).isNotNull)
      val current = dim.filter(col(To).isNull)
        .join(upd, keyCols, "left")
      val attrStruct = struct(attrs.map(col): _*)
      // null-safe: a row is CHANGED only when an update exists and differs
      val changed = col("_new").isNotNull && !(attrStruct <=> col("_new"))
      val closed = current.filter(changed)
        .withColumn(To, lit(effective)).drop("_new")
      val kept = current.filter(!changed).drop("_new")
      val opened = current.filter(changed)
        .select(keyCols.map(col) :+ col("_new"): _*)
        .select(keyCols.map(col) ++
          attrs.map(a => col(s"_new.$a").as(a)): _*)
        .withColumn(From, lit(effective))
        .withColumn(To, lit(null).cast("date"))
      val known = dim.select(keyCols.map(col): _*).distinct()
      val inserted = updates.join(known, keyCols, "left_anti")
        .select((keyCols ++ attrs).map(col): _*)
        .withColumn(From, lit(effective))
        .withColumn(To, lit(null).cast("date"))
      history.unionByName(closed).unionByName(kept)
        .unionByName(opened).unionByName(inserted)
        .select(dim.columns.map(col): _*)
    }
  }

  /** Rows valid AT `at`: `valid_from <= at < valid_to` (right-open; a
    * null valid_to is open-ended).
    */
  def asOf(spark: SparkSession, dir: String, at: java.sql.Date): DataFrame = {
    val dim = TableStore.read(spark, dir)
    dim.filter(col(From) <= lit(at) &&
      (col(To).isNull || col(To) > lit(at)))
  }

  def current(spark: SparkSession, dir: String): DataFrame =
    TableStore.read(spark, dir).filter(col(To).isNull)

  /** Point-in-time join — THE reason SCD2 exists: each fact row joins the
    * dimension version that was valid AT the fact's own timestamp
    * (`tsCol`, right-open interval semantics), never today's attributes —
    * the feature-store "point-in-time correctness" that prevents label
    * leakage when training data spans dimension changes.
    *
    * Plan shape: an EQUI-join on the key columns (broadcast for a small
    * dim, sort-merge otherwise) with the interval bounds as residual join
    * predicates — each fact row matches exactly ONE version (intervals
    * partition the timeline by construction), so output cardinality ==
    * fact cardinality, law-tested. Facts with timestamps before the key's
    * first version (or unknown keys) drop, inner-join semantics.
    */
  def pitJoin(facts: DataFrame, spark: SparkSession, dir: String,
      keyCols: Seq[String], tsCol: Column): DataFrame = {
    // dim keys renamed before the join: no ambiguous-attribute traps, and
    // the fact side keeps its own key columns in the output
    val dim = keyCols.foldLeft(TableStore.read(spark, dir)) {
      (df, k) => df.withColumnRenamed(k, s"__dim_$k")
    }
    val at = tsCol.cast("date")
    facts.join(dim,
      keyCols.map(k => col(k) === col(s"__dim_$k")).reduce(_ && _) &&
        col(From) <= at && (col(To).isNull || col(To) > at))
      .drop(keyCols.map(k => s"__dim_$k"): _*)
  }
}
