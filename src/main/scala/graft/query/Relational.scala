package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Q
import Tables.{cnt, sumMoney, sumMoney4}

/** The relational operator inventory (SURVEY.md §2.2-§2.8) expressed over
  * the driver testdata. Every query is a declarative DataFrame plan —
  * Catalyst handles pushdown/pruning/join selection; hints are used only
  * where the 100 TB-scale choice must be pinned (broadcast for bounded dims,
  * sort-merge for big x big).
  *
  * Determinism contract for the DuckDB oracle: total ORDER BY on every
  * result, aggregate aliases identical on both sides, doubles either
  * bit-identical (decimal-cast sums / int ratios / IEEE-identical scalar
  * ops) or rounded.
  */
object Relational {

  private def t(name: String)(implicit s: SparkSession, dir: String) =
    Tables(s, dir, name)

  /** One ANSI string both Spark and DuckDB execute verbatim (q_sql_entry). */
  private val SqlEntryText =
    """SELECT c_mktsegment, count(*) AS cnt,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** One ANSI string both engines execute verbatim (q_lateral_join). */
  private val LateralJoinText =
    """SELECT p.o_orderpriority, t.o_orderkey, t.o_totalprice
      |FROM (SELECT DISTINCT o_orderpriority FROM orders) p,
      |LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
      |         WHERE o.o_orderpriority = p.o_orderpriority
      |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |ORDER BY 1, 3 DESC, 2""".stripMargin

  /** One ANSI string both engines execute verbatim (q_recursive_cte).
    * Fixed-depth recursion (84 month steps) — NOT data-dependent depth,
    * so the iteration bound holds at every scale factor.
    */
  private val RecursiveCteText =
    """WITH RECURSIVE m(mon) AS (
      |  SELECT DATE '1992-01-01'
      |  UNION ALL
      |  SELECT CAST(mon + INTERVAL '1' MONTH AS DATE) FROM m
      |  WHERE mon < DATE '1998-12-01')
      |SELECT substring(CAST(mon AS VARCHAR(10)), 1, 7) AS month,
      |  CAST(count(o_orderkey) AS BIGINT) AS n_orders
      |FROM m LEFT JOIN orders
      |  ON substring(CAST(mon AS VARCHAR(10)), 1, 7) =
      |     substring(CAST(o_orderdate AS VARCHAR(19)), 1, 7)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** One ANSI string both engines execute verbatim (q_scalar_subquery). */
  private val ScalarSubqueryText =
    """SELECT c_custkey,
      |  (SELECT count(*) FROM orders WHERE o_custkey = c_custkey) AS n_orders,
      |  coalesce((SELECT max(o_totalprice) FROM orders
      |            WHERE o_custkey = c_custkey), 0.0) AS max_price
      |FROM customer ORDER BY c_custkey""".stripMargin

  val all: Seq[Q] = Seq(

    // ---- A4: scalar count -------------------------------------------------
    Q("q_count", Some("SELECT count(*) AS n FROM lineitem"),
      (s, d) => t("lineitem")(s, d).agg(cnt.as("n"))),

    // ---- A1: group-by count (value_counts, preprocess.py:215) -------------
    Q("q_groupby_count", Some(
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, d) => t("events")(s, d)
        .groupBy("event_type").agg(cnt.as("cnt"))
        .orderBy("event_type")),

    // ---- A2: frequencies(sort=True) (gha.ipynb:164) ------------------------
    Q("q_freq_sorted", Some(
      """SELECT event_type, count(*) AS cnt FROM events
        |GROUP BY event_type ORDER BY cnt DESC, event_type""".stripMargin),
      (s, d) => t("events")(s, d)
        .groupBy("event_type").agg(cnt.as("cnt"))
        .orderBy(desc("cnt"), asc("event_type"))),

    // ---- A3: HAVING (repos[repos > 5], preprocess.py:216) ------------------
    Q("q_having", Some(
      """SELECT o_custkey, count(*) AS cnt FROM orders
        |GROUP BY o_custkey HAVING count(*) > 5 ORDER BY o_custkey""".stripMargin),
      (s, d) => t("orders")(s, d)
        .groupBy("o_custkey").agg(cnt.as("cnt"))
        .filter(col("cnt") > 5)
        .orderBy("o_custkey")),

    // ---- A5: multi-aggregate in one shared scan (gha.ipynb:337-341) --------
    // Conditional aggregation: four counts + a money sum in a single pass,
    // instead of four jobs over the same source.
    Q("q_multi_agg", Some(
      """SELECT
        |  count(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'error')    AS n_error,
        |  count(*) AS n_total,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events""".stripMargin),
      (s, d) => t("events")(s, d).agg(
        count(when(col("event_type") === "signup", 1)).as("n_signup"),
        count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
        count(when(col("event_type") === "error", 1)).as("n_error"),
        cnt.as("n_total"),
        sumMoney(col("value")).as("total_value"))),

    // ---- A7: exact distinct -------------------------------------------------
    Q("q_count_distinct", Some(
      """SELECT event_type, count(DISTINCT user_id) AS n_users FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, d) => t("events")(s, d)
        .groupBy("event_type").agg(countDistinct("user_id").as("n_users"))
        .orderBy("event_type")),

    // ---- A7: HLL approx distinct, oracled via its error LAW ------------------
    // The 100 TB path for "people using Dask over time" (gha.ipynb:392):
    // one pass, fixed memory, no shuffle explosion from exact distinct —
    // production calls just `approx_count_distinct`. The raw estimate is
    // engine-defined, so the oracle pins the 5% relative-error LAW instead
    // (the q_quantize_embed / q_distinct_sketch boolean pattern): exact_n
    // binds the frame to real data, within_5pct fails the hash if the
    // HLL++ estimate ever drifts out of its contract. The explicit rsd
    // 0.0125 makes the law a real bound: HLL++ then keeps 2^13 registers,
    // σ = 1.04/√8192 ≈ 1.15%, so 5% is a 4.35σ claim (two-sided miss
    // probability ≈ 1.4e-5 per event type; the default rsd 0.05 makes it
    // a 1σ claim).
    Q("q_approx_distinct", Some(
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n,
        |  true AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      // Dedupe first, then one 5-group aggregate: HLL is duplicate-blind,
      // so the estimate is the same, and the 2^13-register buffer is not
      // carried by every (event_type, user_id) group that countDistinct's
      // rewrite would aggregate it in (about 4x slower at sf0.1).
      (s, d) => t("events")(s, d)
        .select("event_type", "user_id").distinct()
        .groupBy("event_type")
        .agg(count(col("user_id")).as("exact_n"),
          approx_count_distinct("user_id", 0.0125).as("est"))
        .withColumn("within_5pct",
          abs(col("est") - col("exact_n")) <= col("exact_n") * 0.05)
        .select("event_type", "exact_n", "within_5pct")
        .orderBy("event_type")),

    // ---- A7: MERGEABLE distinct sketches (DataSketches HLL), law-oracled ----
    // Unlike approx_count_distinct's opaque internal state, hll_sketch_agg
    // emits a portable binary that composes across ticks/partitions with
    // hll_union_agg — the building block of incremental distinct views
    // (fold each batch's per-key sketches into the stored ones). The raw
    // estimate is engine-defined, so the oracle pins the LAW instead: the
    // estimate must land within 5% of the exact distinct (trivially true on
    // the oracle side, true on the Spark side only if the sketch math is
    // right — the same drift-proof boolean-law pattern as q_quantize_embed).
    Q("q_distinct_sketch", Some(
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n,
        |  true AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, d) => t("events")(s, d)
        .groupBy("event_type")
        .agg(countDistinct("user_id").as("exact_n"),
          hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est"))
        .withColumn("within_5pct",
          abs(col("est") - col("exact_n")) <= col("exact_n") * 0.05)
        .select("event_type", "exact_n", "within_5pct")
        .orderBy("event_type")),

    // ---- A7: rollup over two time scales (gha.ipynb:392 "trends") ----------
    Q("q_rollup", Some(
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |       coalesce(day, 'ALL') AS day, count(*) AS cnt
        |FROM (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day FROM events)
        |GROUP BY ROLLUP(event_type, day)
        |ORDER BY event_type, day""".stripMargin),
      (s, d) => t("events")(s, d)
        .withColumn("day", Tables.day(col("ts")))
        .rollup("event_type", "day").agg(cnt.as("cnt"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("day"), lit("ALL")).as("day"),
          col("cnt"))
        .orderBy("event_type", "day")),

    // ---- P1: type-dispatch filters (preprocess.py:112-130) ------------------
    Q("q_filter_eq", Some(
      """SELECT event_id, user_id, value FROM events
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin),
      (s, d) => t("events")(s, d)
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "value")
        .orderBy("event_id")),

    Q("q_filter_isin", Some(
      """SELECT event_type, count(*) AS cnt FROM events
        |WHERE event_type IN ('signup', 'error')
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, d) => t("events")(s, d)
        .filter(col("event_type").isin("signup", "error"))
        .groupBy("event_type").agg(cnt.as("cnt"))
        .orderBy("event_type")),

    // ---- P8: disjunctive predicate (gha.ipynb:362) ---------------------------
    Q("q_or_predicate", Some(
      """SELECT event_id, event_type, value FROM events
        |WHERE event_type = 'error' OR value > 150
        |ORDER BY event_id""".stripMargin),
      (s, d) => t("events")(s, d)
        .filter(col("event_type") === "error" || col("value") > 150)
        .select("event_id", "event_type", "value")
        .orderBy("event_id")),

    // ---- P5: negated substring (bot filter, preprocess.py:219) ---------------
    Q("q_not_contains", Some(
      """SELECT doc_id, n_chars FROM documents
        |WHERE NOT contains(text, 'spark') ORDER BY doc_id""".stripMargin),
      (s, d) => t("documents")(s, d)
        .filter(!col("text").contains("spark"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")),

    // ---- P6/F2: case-insensitive substring (preprocess.py:221-223) -----------
    Q("q_lower_contains", Some(
      """SELECT p_partkey, p_name, p_type FROM part
        |WHERE contains(lower(p_type), 'promo') ORDER BY p_partkey""".stripMargin),
      (s, d) => t("part")(s, d)
        .filter(lower(col("p_type")).contains("promo"))
        .select("p_partkey", "p_name", "p_type")
        .orderBy("p_partkey")),

    // ---- P7/F3: negated prefix (preprocess.py:224) ----------------------------
    Q("q_not_startswith", Some(
      """SELECT source, count(*) AS cnt FROM documents
        |WHERE NOT starts_with(source, 'src1')
        |GROUP BY source ORDER BY source""".stripMargin),
      (s, d) => t("documents")(s, d)
        .filter(!col("source").startsWith("src1"))
        .groupBy("source").agg(cnt.as("cnt"))
        .orderBy("source")),

    // ---- J1: broadcast inner equi-join (preprocess.py:216,220) ----------------
    // The dimension side is explicitly broadcast — the reference hand-rolled
    // this with repartition(npartitions=1). At 100 TB: supplier-like dims
    // stay bounded, so a shuffle of the fact table is never paid.
    Q("q_join_broadcast", Some(
      """SELECT s_name, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin),
      (s, d) => t("lineitem")(s, d)
        .join(broadcast(t("supplier")(s, d)),
          col("l_suppkey") === col("s_suppkey"), "inner")
        .groupBy("s_name")
        .agg(cnt.as("cnt"), sumMoney(col("l_quantity")).as("sum_qty"))
        .orderBy("s_name")),

    // ---- J2: big x big shuffle join, pinned to sort-merge ----------------------
    // lineitem x orders both grow with the fact data; at scale neither side
    // broadcasts, so the plan must be a shuffle join on the join key.
    Q("q_join_sortmerge", Some(
      """SELECT o_orderpriority, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
      (s, d) => t("lineitem")(s, d)
        .join(t("orders")(s, d).hint("merge"),
          col("l_orderkey") === col("o_orderkey"), "inner")
        .groupBy("o_orderpriority")
        .agg(cnt.as("cnt"),
          sumMoney4(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy("o_orderpriority")),

    // ---- J2h: big x big shuffle join, pinned to SHUFFLE_HASH ------------------
    // The third shuffle-join regime: no sort on either side — each
    // partition hashes the (smaller) build side and streams the probe.
    // Wins over sort-merge when one side is much smaller than the other
    // but still over the broadcast ceiling, or when sort would spill;
    // loses the sort-merge spill path if a build partition outgrows
    // memory (the skew trade the salted-join row handles). Same oracle
    // shape as J2: strategy choice must be invisible to results
    // (ShuffledHashJoinExec presence is plan-asserted in JoinStrategySpec).
    Q("q_join_shufflehash", Some(
      """SELECT o_orderstatus, count(*) AS cnt,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
      (s, d) => t("lineitem")(s, d)
        .join(t("orders")(s, d).hint("shuffle_hash"),
          col("l_orderkey") === col("o_orderkey"), "inner")
        .groupBy("o_orderstatus")
        .agg(cnt.as("cnt"), sumMoney(col("l_quantity")).as("qty"))
        .orderBy("o_orderstatus")),

    // ---- J: left-semi — "repos with >=1 watch" idiom --------------------------
    Q("q_join_semi", Some(
      """SELECT c_mktsegment, count(*) AS cnt FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
      (s, d) => t("customer")(s, d)
        .join(t("orders")(s, d), col("c_custkey") === col("o_custkey"),
          "left_semi")
        .groupBy("c_mktsegment").agg(cnt.as("cnt"))
        .orderBy("c_mktsegment")),

    // ---- J: left-anti — table-level exclusion (P5/P7 lifted): orders that
    // never shipped a line item.
    Q("q_join_anti", Some(
      """SELECT o_orderkey, o_orderstatus FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin),
      (s, d) => t("orders")(s, d)
        .join(t("lineitem")(s, d), col("o_orderkey") === col("l_orderkey"),
          "left_anti")
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey")),

    // ---- J: left outer + order-count histogram ---------------------------------
    Q("q_join_left", Some(
      """SELECT n_orders, count(*) AS n_customers FROM (
        |  SELECT c_custkey, count(o_orderkey) AS n_orders
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY n_orders ORDER BY n_orders""".stripMargin),
      (s, d) => t("customer")(s, d)
        .join(t("orders")(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("n_orders"))
        .groupBy("n_orders").agg(cnt.as("n_customers"))
        .orderBy("n_orders")),

    // ---- SQL surface: the same ANSI text runs on BOTH engines ------------------
    // The engine is DataFrame-first, but a reference user also writes SQL;
    // this key registers the tables as views and executes the ORACLE'S OWN
    // text through spark.sql — dialect compatibility proven by definition
    // (one string, two engines, one hash).
    Q("q_sql_entry", Some(SqlEntryText),
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        Tables(s, d, "customer").createOrReplaceTempView("customer")
        s.sql(SqlEntryText)
      }),

    // ---- SQL surface: correlated scalar subqueries --------------------------
    // Catalyst can't execute a per-row subquery; RewriteCorrelatedScalar-
    // Subquery decorrelates both into ONE aggregate-then-outer-join over
    // orders — the 100 TB shape a user would otherwise hand-write. Same
    // ANSI text runs on both engines (count subquery: empty group -> 0 by
    // the COUNT bug guard; max subquery: empty group -> NULL -> coalesce).
    Q("q_scalar_subquery", Some(ScalarSubqueryText),
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        Tables(s, d, "customer").createOrReplaceTempView("customer")
        s.sql(ScalarSubqueryText)
      }),

    // ---- SQL surface: LATERAL correlated subquery ------------------------------
    // Per-group top-2 written the way an analyst writes it — a correlated
    // ORDER BY ... LIMIT subquery per outer row. Catalyst decorrelates the
    // lateral into a ranked join (DecorrelateInnerQuery); same ANSI text
    // runs on both engines, explicit tiebreak keeps the LIMIT edge unique.
    Q("q_lateral_join", Some(LateralJoinText),
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(LateralJoinText)
      }),

    // ---- SQL surface: RECURSIVE CTE (Spark 4 UnionLoop) ------------------------
    // The canonical recursive-spine use: generate the 84-month calendar by
    // recursion, left-join monthly order counts (empty months surface as
    // 0 — a plain GROUP BY over orders could never produce them). Depth
    // is FIXED at 84 steps regardless of scale factor, safely inside the
    // engine's recursion limit; dialect-shared month formatting via
    // substring(CAST(date AS VARCHAR)) since strftime/date_format differ.
    Q("q_recursive_cte", Some(RecursiveCteText),
      (s, d) => {
        Tables(s, d, "orders").createOrReplaceTempView("orders")
        s.sql(RecursiveCteText)
      }),

    // ---- J: NULL-SAFE equi-join (<=> / IS NOT DISTINCT FROM) -------------------
    // Plain equality drops every NULL-keyed row from both sides (NULL = NULL
    // is NULL); the null-safe operator keeps the NULL group as a real join
    // key — the semantics a dedup/rollup join needs when the key is an
    // optional attribute. NULLs planted deterministically (event_id % 7);
    // the dim side is the distinct key set, so the join stays 1:N.
    Q("q_join_nullsafe", Some(
      """WITH e AS (
        |  SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END
        |    AS et, event_id FROM events),
        |d AS (SELECT DISTINCT et FROM e)
        |SELECT coalesce(d.et, 'NULLKEY') AS event_type,
        |  count(*) AS n, CAST(sum(e.event_id) AS BIGINT) AS id_sum
        |FROM d JOIN e ON d.et IS NOT DISTINCT FROM e.et
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        val e = t("events")(s, d).select(
          when(col("event_id") % 7 === 0, lit(null)).otherwise(col("event_type"))
            .as("et"), col("event_id"))
        val dim = e.select(col("et").as("et_d")).distinct()
        dim.join(e, col("et_d") <=> col("et"))
          .groupBy(coalesce(col("et_d"), lit("NULLKEY")).as("event_type"))
          .agg(cnt.as("n"), sum("event_id").as("id_sum"))
          .orderBy("event_type")
      }),

    // ---- J: full outer join — unmatched rows survive from BOTH sides -----------
    // customer restricted to half the nations vs per-customer order counts:
    // customers outside the slice surface with null c_name side... and
    // order-less customers inside it surface with null o_cnt. One shuffle
    // (sort-merge full outer); coalesced key keeps the output totally
    // ordered for the hash compare.
    Q("q_join_full", Some(
      """SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
        |  c.c_name AS c_name, o.o_cnt AS o_cnt
        |FROM (SELECT c_custkey, c_name FROM customer WHERE c_nationkey < 12) c
        |FULL OUTER JOIN (SELECT o_custkey, count(*) AS o_cnt
        |                 FROM orders GROUP BY o_custkey) o
        |ON c.c_custkey = o.o_custkey
        |ORDER BY custkey""".stripMargin),
      (s, d) => {
        val c = t("customer")(s, d).filter(col("c_nationkey") < 12)
          .select("c_custkey", "c_name")
        val o = t("orders")(s, d).groupBy("o_custkey").agg(cnt.as("o_cnt"))
        c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
          .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
            col("c_name"), col("o_cnt"))
          .orderBy("custkey")
      }),

    // ---- J: multi-way star join (TPC-H Q5 shape) --------------------------------
    // Fact x fact on orderkey (shuffle), then three bounded dims broadcast.
    // This is the canonical 100 TB plan: exactly one big shuffle.
    Q("q_star_join", Some(
      """SELECT r_name, count(*) AS cnt,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
      (s, d) => t("lineitem")(s, d)
        .join(t("orders")(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t("customer")(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t("nation")(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t("region")(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(cnt.as("cnt"),
          sumMoney4(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy("r_name")),

    // ---- O1: global sort desc with total tie-break (preprocess.py:225) ----------
    Q("q_sort_desc", Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey""".stripMargin),
      (s, d) => t("orders")(s, d)
        .select("o_orderkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))),

    // ---- O2: true top-k (TakeOrderedAndProject, not a global sort) ---------------
    Q("q_topk", Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 10""".stripMargin),
      (s, d) => t("lineitem")(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber"))
        .limit(10)),

    // ---- O2: limit (deterministic via pre-sort) -----------------------------------
    Q("q_limit", Some(
      """SELECT o_orderkey, o_orderstatus FROM orders
        |ORDER BY o_orderkey LIMIT 5""".stripMargin),
      (s, d) => t("orders")(s, d)
        .select("o_orderkey", "o_orderstatus")
        .orderBy("o_orderkey").limit(5)),

    // ---- set ops: union-all = the reference's multi-file append made explicit ------
    Q("q_union_all", Some(
      """SELECT event_type, count(*) AS cnt FROM (
        |  SELECT * FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT * FROM events WHERE event_id % 2 = 1)
        |GROUP BY event_type ORDER BY event_type""".stripMargin),
      (s, d) => {
        val e = t("events")(s, d)
        e.filter(col("event_id") % 2 === 0)
          .union(e.filter(col("event_id") % 2 === 1))
          .groupBy("event_type").agg(cnt.as("cnt"))
          .orderBy("event_type")
      }),

    Q("q_intersect", Some(
      """SELECT user_id FROM events WHERE event_type = 'signup'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin),
      (s, d) => {
        val e = t("events")(s, d)
        e.filter(col("event_type") === "signup").select("user_id")
          .intersect(e.filter(col("event_type") === "purchase").select("user_id"))
          .orderBy("user_id")
      }),

    Q("q_except", Some(
      """SELECT doc_id FROM documents WHERE lang = 'en'
        |EXCEPT
        |SELECT doc_id FROM documents WHERE source = 'src0'
        |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val docs = t("documents")(s, d)
        docs.filter(col("lang") === "en").select("doc_id")
          .except(docs.filter(col("source") === "src0").select("doc_id"))
          .orderBy("doc_id")
      }),

    // ---- F10/G1: explode (flatten, preprocess.py:148) -------------------------------
    Q("q_explode", Some(
      """SELECT doc_id, count(*) AS n_words FROM (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents WHERE doc_id < 50)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      (s, d) => t("documents")(s, d)
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy("doc_id").agg(cnt.as("n_words"))
        .orderBy("doc_id"))
  )
}
