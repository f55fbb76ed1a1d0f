package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Q

/** Change-data-capture between two table snapshots (SURVEY.md §2.1 S14).
  *
  * The reference's store is append-only, so its "diff" is implicit (new
  * files); a curation pipeline re-publishing a corpus needs the explicit
  * form — which documents were added / removed / changed between corpus
  * version N and N+1 — to drive incremental re-training, cache
  * invalidation, and audit. This is Delta CDF's `table_changes` shape
  * computed WITHOUT a change log: pure snapshot comparison.
  *
  * Scale shape: ONE full-outer sort-merge equi-join on the key (each side
  * shuffles once — unavoidable: change detection must co-locate key
  * twins), with all non-key columns packed into a single struct per side
  * so the row comparison is one codegen'd null-safe struct equality
  * (`<=>`), not an O(columns) cascade re-planned per query. Output is
  * bounded by the CHANGE volume plus key columns only — unchanged rows
  * (the overwhelming majority between adjacent corpus versions) are
  * filtered before anything downstream sees them.
  */
object Cdc {

  /** Rows added / removed / changed from snapshot `a` to snapshot `b`.
    * Both frames must share the schema; `keyCols` identifies rows. Output:
    * key columns + `change` ∈ {added, removed, changed}; unchanged rows
    * are dropped. Null-safe throughout: a value flipping to/from NULL is a
    * change, two NULLs are equal.
    */
  def snapshotDiff(a: DataFrame, b: DataFrame, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs >=1 key column")
    require(a.columns.sameElements(b.columns),
      s"snapshot schemas differ: ${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
    val valCols = a.columns.filterNot(keyCols.contains).toSeq
    require(valCols.nonEmpty, "snapshotDiff needs >=1 non-key column to compare")
    def packed(df: DataFrame, as: String) =
      df.select(keyCols.map(col) :+ struct(valCols.map(col): _*).as(as): _*)
    packed(a, "__a").join(packed(b, "__b"), keyCols, "full_outer")
      .withColumn("change",
        when(col("__a").isNull, lit("added"))
          .when(col("__b").isNull, lit("removed"))
          .when(!(col("__a") <=> col("__b")), lit("changed")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change"): _*)
  }

  val all: Seq[Q] = Seq(

    // ---- S15: order-independent table checksum ---------------------------------
    // One number that equals iff two tables hold the same multiset of rows
    // (up to hash collisions) — the cheap cross-system equality check a
    // migration runs before cutover. The row hash is arithmetic, so DuckDB
    // computes it identically (the train/test-split bucket's stance), and
    // the plain SUM is commutative: partitioning and row order never
    // matter, and map-side partials make the exchange one value per
    // partition.
    Q("q_table_checksum", Some(
      """SELECT CAST(sum((l_orderkey * 31 + l_linenumber) % 1000003
        |                * 7 % 999983) AS BIGINT) AS checksum,
        |       count(*) AS n_rows
        |FROM lineitem""".stripMargin),
      (s, d) => Tables(s, d, "lineitem")
        .agg(sum((col("l_orderkey") * 31L + col("l_linenumber"))
            % 1000003L * 7L % 999983L).as("checksum"),
          count(lit(1)).as("n_rows"))),

    // ---- S14: snapshot diff over a deterministic corpus mutation ---------------
    // Snapshot B derives from orders by deleting keys %113==0, rewriting
    // the priority of keys %97==0, and inserting fresh keys (+900M) for
    // %89==0 — the oracle rebuilds the identical B and diffs via FULL
    // OUTER JOIN with IS DISTINCT FROM. The emitted change set IS the
    // operator's real output (CDC feeds downstream consumers the changes,
    // never the table).
    Q("q_snapshot_diff", Some(
      """WITH b AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 97 = 0 THEN 'X-UPDATED' ELSE o_orderpriority END
        |           AS o_orderpriority,
        |         o_totalprice
        |  FROM orders WHERE o_orderkey % 113 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 900000000, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 89 = 0),
        |a AS (SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders)
        |SELECT coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |       WHEN b.o_orderkey IS NULL THEN 'removed'
        |       WHEN a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
        |         OR a.o_totalprice IS DISTINCT FROM b.o_totalprice THEN 'changed'
        |  END AS change
        |FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey
        |WHERE CASE WHEN a.o_orderkey IS NULL THEN 'added'
        |           WHEN b.o_orderkey IS NULL THEN 'removed'
        |           WHEN a.o_orderpriority IS DISTINCT FROM b.o_orderpriority
        |             OR a.o_totalprice IS DISTINCT FROM b.o_totalprice THEN 'changed'
        |      END IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin),
      (s, d) => {
        val a = Tables(s, d, "orders")
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        val b = a.filter(col("o_orderkey") % 113 =!= 0)
          .withColumn("o_orderpriority",
            when(col("o_orderkey") % 97 === 0, lit("X-UPDATED"))
              .otherwise(col("o_orderpriority")))
          .unionByName(a.filter(col("o_orderkey") % 89 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 900000000L))
        snapshotDiff(a, b, Seq("o_orderkey")).orderBy("o_orderkey")
      })
  )
}
