package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Q
import Tables.{cnt, sumMoney4}

/** Bucketed (pre-shuffled) storage layout + the co-located join it buys —
  * the classic warehouse technique for 100 TB fact-fact joins that the
  * generation store (`TableStore`) doesn't cover: both tables are written
  * bucketed AND sorted on the join key, so a later equi-join needs NO
  * exchange and NO sort on either side — the shuffle was paid ONCE at
  * write time and amortizes over every subsequent join/aggregation on that
  * key, instead of re-shuffling both fact tables per query.
  *
  * The reference has no analog (Delta tables aren't bucketed; its one join
  * broadcasts a squeezed dimension — `/root/reference/preprocess.py:216`).
  * This is the complementary regime: BOTH sides grow with the data, the
  * broadcast ceiling is long gone, and co-location is the only way the
  * join avoids moving the corpus.
  *
  * Spark-first shape: `bucketBy(n, key).sortBy(key)` into the session
  * catalog; the join then runs as a sort-merge join whose children read
  * pre-bucketed, pre-sorted files (`FileScan ... SelectedBucketsCount`),
  * and a groupBy on the bucket key (or any superset) reuses the same
  * partitioning — the whole join+aggregate pipeline is exchange-free
  * (plan-asserted in `BucketedSpec`).
  */
object Bucketed {

  private val nBuckets = 8

  /** Write lineitem + orders bucketed and sorted on the order key into a
    * fresh directory, (re)register them in the catalog under names derived
    * from `d`, and return the names. `coalesce(1)` keeps exactly one file
    * per bucket so the reader can also elide the merge-join sort (many
    * writers would produce one file per task per bucket — still
    * co-located, but each side re-sorts within partitions).
    */
  private[query] def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val suffix = java.lang.Integer.toHexString(d.hashCode & 0x7fffffff)
    val li = s"graft_lineitem_b_$suffix"
    val ord = s"graft_orders_b_$suffix"
    val root = Pipelines.demoRoot("graft_bucket").toString
    Tables(s, d, "lineitem")
      .select("l_orderkey", "l_extendedprice", "l_discount")
      .coalesce(1)
      .write.mode("overwrite").option("path", s"$root/lineitem")
      .bucketBy(nBuckets, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(li)
    Tables(s, d, "orders")
      .select("o_orderkey", "o_orderpriority")
      .coalesce(1)
      .write.mode("overwrite").option("path", s"$root/orders")
      .bucketBy(nBuckets, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(ord)
    (li, ord)
  }

  val all: Seq[Q] = Seq(

    // ---- S11: co-located fact-fact join over the bucketed layout ---------------
    // Top orders by revenue: join + per-order aggregate, where the join
    // reads both sides pre-bucketed (no exchange), the groupBy rides the
    // same hash partitioning (bucket key is a subset of the grouping keys),
    // and the final top-10 is a TakeOrdered — ZERO shuffles end to end
    // (BucketedSpec pins it). The oracle is the plain join over the raw
    // parquet: hash equality proves the bucketed path loses nothing;
    // bucketing is invisible to results, it only deletes exchanges.
    Q("q_bucket_join", Some(
      """SELECT o_orderkey, o_orderpriority, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),
      (s, d) => {
        val (liT, ordT) = bucketedTables(s, d)
        s.table(liT)
          .join(s.table(ordT).hint("merge"),
            col("l_orderkey") === col("o_orderkey"), "inner")
          .groupBy("o_orderkey", "o_orderpriority")
          .agg(cnt.as("n_items"),
            sumMoney4(col("l_extendedprice") * (lit(1) - col("l_discount")))
              .as("revenue"))
          .orderBy(desc("revenue"), asc("o_orderkey"))
          .limit(10)
      })
  )
}
