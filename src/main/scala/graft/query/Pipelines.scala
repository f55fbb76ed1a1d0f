package graft.query

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.Q
import graft.store.TableStore
import Tables.cnt

/** `query_data` parity (SURVEY.md §3.2, §7.3): the reference's flagship
  * analytics chain — value_counts → HAVING → broadcast join → substring
  * filters → projection → global sort (`/root/reference/preprocess.py:209-244`)
  * — mapped onto the driver testdata star schema.
  */
object Pipelines {

  /** A fresh temp dir under `java.io.tmpdir` for a storage key's store,
    * removed on JVM exit. Every call builds its store here, so a key
    * always reads the data its directory holds now.
    */
  private[graft] def demoRoot(prefix: String): java.nio.file.Path = {
    val d = Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile); ()
    }))
    d
  }

  val all: Seq[Q] = Seq(

    // ---- the flagship: "popular non-excluded parts with promo types" -----------
    // Operator-for-operator the commits pipeline (preprocess.py:214-230):
    //   watch.value_counts -> lineitem.groupBy(partkey).count
    //   repos[repos>5]     -> cnt > 25
    //   repartition(1)+merge -> equi-join; AQE broadcasts when the agg side
    //     is small. No explicit broadcast() hint: distinct partkeys grow
    //     with data, and a forced broadcast of an unbounded aggregate OOMs
    //     at 100x scale (the reference's repartition(npartitions=1) has the
    //     same flaw; AQE's runtime size check is the fix, not parity).
    //   ~contains(username,'bot')    -> !contains(p_name,'small')
    //   lower(message).contains(' dask') -> lower(p_type).contains('promo')
    //   ~startswith(repo,'dask/')   -> !startswith(p_brand,'Brand#1')
    //   sort_values(count, desc)    -> orderBy(cnt desc, partkey)  [total order]
    Q("q_pipeline_parts", Some(
      """WITH popular AS (
        |  SELECT l_partkey, count(*) AS cnt FROM lineitem
        |  GROUP BY l_partkey HAVING count(*) > 25)
        |SELECT p_partkey, p_name, p_brand, p_type, cnt
        |FROM part JOIN popular ON p_partkey = l_partkey
        |WHERE NOT contains(p_name, 'small')
        |  AND contains(lower(p_type), 'promo')
        |  AND NOT starts_with(p_brand, 'Brand#1')
        |ORDER BY cnt DESC, p_partkey""".stripMargin),
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val part = Tables(s, d, "part")
        val popular = li.groupBy("l_partkey").agg(cnt.as("cnt"))
          .filter(col("cnt") > 25)
        part
          .filter(!col("p_name").contains("small"))
          .join(popular, col("p_partkey") === col("l_partkey"))
          .filter(lower(col("p_type")).contains("promo"))
          .select("p_partkey", "p_name", "p_brand", "p_type", "cnt")
          .filter(!col("p_brand").startsWith("Brand#1"))
          .orderBy(desc("cnt"), asc("p_partkey"))
      }),

    // ---- the comments pipeline shape on documents (preprocess.py:233-244) -------
    Q("q_pipeline_docs", Some(
      """WITH popular AS (
        |  SELECT source, count(*) AS cnt FROM documents
        |  GROUP BY source HAVING count(*) > 20)
        |SELECT doc_id, d.source AS source, lang, cnt
        |FROM documents d JOIN popular USING (source)
        |WHERE NOT contains(lang, 'zh')
        |  AND contains(lower(text), ' spark')
        |  AND NOT starts_with(d.source, 'src1')
        |ORDER BY cnt DESC, doc_id""".stripMargin),
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val popular = docs.groupBy("source").agg(cnt.as("cnt"))
          .filter(col("cnt") > 20)
        docs
          .filter(!col("lang").contains("zh"))
          .join(popular, Seq("source"))
          .filter(lower(col("text")).contains(" spark"))
          .select("doc_id", "source", "lang", "cnt")
          .filter(!col("source").startsWith("src1"))
          .orderBy(desc("cnt"), asc("doc_id"))
      }),

    // ---- S6-S9 e2e: append-partitioned write, compact, vacuum --------------------
    // Returns one row of storage facts, oracled against the SOURCE table:
    // DuckDB recomputes the partition count and row count the compacted
    // store must preserve; the file-count facts (a storage property DuckDB
    // cannot see) ride along as law booleans asserting the Delta-OPTIMIZE
    // analog — many small per-batch files collapse to one per date
    // partition, losing no rows.
    Q("q_compact", Some(
      """SELECT CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT)
        |         AS n_partitions,
        |       CAST(count(*) AS BIGINT) AS rows,
        |       true AS files_reduced, true AS one_file_per_partition
        |FROM events""".stripMargin),
      (s, d) => {
        import s.implicits._
        val dir = demoRoot("graft_compact").toString + "/events_t"
        val ev = Tables(s, d, "events")
          .withColumn("date", to_date(col("ts")))
          .repartition(4) // simulate 4 small per-batch appends per partition
        TableStore.append(ev, dir)
        val (before, after) = TableStore.compact(s, dir)
        val nParts =
          TableStore.read(s, dir).select("date").distinct().count()
        val rows = TableStore.read(s, dir).count()
        Seq((nParts, rows, before > after, after == nParts))
          .toDF("n_partitions", "rows", "files_reduced",
            "one_file_per_partition")
      }),

    // ---- S15: schema evolution (widen-on-append, declared-schema read) ----------
    // v1 appends even-keyed orders WITHOUT the priority column, v2 appends
    // odd-keyed orders WITH it (the evolved batch). The query reads the
    // evolved table under the declared sidecar schema: historical rows
    // surface the new column as NULL.
    // Oracle recomputes the same accounting from the source table — hash
    // equality proves no row lost its identity and exactly the v1 rows
    // read NULL.
    Q("q_schema_evolution", Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) FILTER (WHERE o_orderkey % 2 = 0
        |    OR o_orderpriority IS NULL) AS BIGINT)
        |    AS n_null_priority,
        |  CAST(count(DISTINCT o_orderpriority)
        |    FILTER (WHERE o_orderkey % 2 = 1) AS BIGINT)
        |    AS n_priorities,
        |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        |FROM orders""".stripMargin),
      (s, d) => {
        val dir = demoRoot("graft_evolve").toString + "/orders_e"
        // month-grain partitions: orders spans ~2400 distinct days — raw
        // to_date made the demo store 2 x 2400 one-row-ish partitions and
        // the READ paid ~7 s of file listing + footer opens at sf0.1
        // (measured). ~80 month partitions keep the same evolution
        // semantics (the oracle never reads `date`) at sane file counts.
        val o = Tables(s, d, "orders")
          .withColumn("date", to_date(date_trunc("month", col("o_orderdate"))))
        TableStore.appendEvolving(
          o.filter(col("o_orderkey") % 2 === 0)
            .select("o_orderkey", "date"), dir)
        TableStore.appendEvolving(
          o.filter(col("o_orderkey") % 2 === 1)
            .select("o_orderkey", "o_orderpriority", "date"), dir)
        TableStore.read(s, dir)
          .agg(cnt.as("n_rows"),
            sum(when(col("o_orderpriority").isNull, 1L).otherwise(0L))
              .as("n_null_priority"),
            count_distinct(col("o_orderpriority")).as("n_priorities"),
            sum("o_orderkey").as("key_sum"))
      }),

    // ---- S17: row-level DELETE (partition-pruned rewrite) ------------------------
    // Append events, DELETE WHERE event_type='error', read the survivors.
    // The oracle recomputes deleted/surviving accounting from the source —
    // hash equality proves the rewrite removed exactly the matching rows
    // and nothing else (NULL-typed rows survive per SQL DELETE semantics).
    Q("q_delete_where", Some(
      """SELECT
        |  CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
        |    AS n_deleted,
        |  CAST(count(*) FILTER (WHERE event_type <> 'error'
        |    OR event_type IS NULL) AS BIGINT) AS n_rows_after,
        |  CAST(sum(event_id) FILTER (WHERE event_type <> 'error'
        |    OR event_type IS NULL) AS BIGINT) AS id_sum_after
        |FROM events""".stripMargin),
      (s, d) => {
        import s.implicits._
        val dir = demoRoot("graft_delete").toString + "/events_d"
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("event_type"),
            to_date(col("ts")).as("date"))
        TableStore.append(ev, dir)
        val nDel = TableStore.deleteWhere(s, dir, col("event_type") === "error")
        TableStore.read(s, dir)
          .agg(cnt.as("n_rows_after"),
            sum("event_id").as("id_sum_after"))
          .select(lit(nDel).as("n_deleted"),
            col("n_rows_after"), col("id_sum_after"))
      }),

    // ---- S8b: Bloom-sidecar equality file skipping ------------------------------
    // The store is z-laid on (user_id, value), so event_id SCATTERS across
    // files — per-file [min,max] on event_id straddles every probe and
    // footer min/max can prune nothing; the 8 KiB-per-file Bloom sidecar
    // answers "can this file hold id v?" and drops the rest (skip evidence
    // pinned in BloomSpec). The query is the point-lookup read: probe
    // the sidecar, read the surviving files, row-filter. Oracle = the
    // plain IN filter: pruning must be invisible to results.
    Q("q_bloom_scan", Some(
      """SELECT event_id, user_id, value FROM events
        |WHERE event_id IN (17, 251, 733)
        |ORDER BY event_id""".stripMargin),
      (s, d) => {
        val dir = demoRoot("graft_bloom").toString + "/events_b"
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            to_date(col("ts")).as("date"))
          .repartition(4)
        TableStore.append(ev, dir)
        TableStore.compact(s, dir, zorderBy = Seq("user_id", "value"),
          targetFileBytes = 64L * 1024)
        graft.store.BloomSkip.write(s, dir, Seq("event_id"))
        val probes = Seq(17L, 251L, 733L)
        graft.store.BloomSkip.readPrunedEq(s, dir, "event_id", probes).df
          .filter(col("event_id").isin(probes: _*))
          .select("event_id", "user_id", "value")
          .orderBy("event_id")
      }),

    // ---- S13: row-level MERGE (upsert-by-key) into the partitioned store --------
    // Build the events store, then merge into it a batch of updates (value
    // bump, type rewrite) and inserts (fresh keys) confined to the first 7
    // of 30 date partitions.
    // Only those 7 partitions are read and rewritten (MergeSpec pins the
    // untouched-partition files byte-identical); the match is an anti-join
    // against the broadcast batch keys. The oracle recomputes the merged
    // state from the raw table (base minus matched keys, plus updates,
    // plus inserts) — hash equality proves Delta-MERGE row semantics.
    Q("q_merge_upsert", Some(
      """WITH upd AS (
        |  SELECT event_id, user_id, 'updated' AS event_type, value + 1000 AS value,
        |         CAST(ts AS DATE) AS date
        |  FROM events WHERE event_id % 37 = 0 AND CAST(ts AS DATE) <= DATE '2024-01-07'),
        |ins AS (
        |  SELECT event_id + 100000000 AS event_id, user_id, 'inserted' AS event_type,
        |         value, CAST(ts AS DATE) AS date
        |  FROM events WHERE event_id % 41 = 0 AND CAST(ts AS DATE) <= DATE '2024-01-07'),
        |base AS (
        |  SELECT event_id, user_id, event_type, value, CAST(ts AS DATE) AS date
        |  FROM events
        |  WHERE NOT (event_id % 37 = 0 AND CAST(ts AS DATE) <= DATE '2024-01-07')),
        |merged AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM upd UNION ALL SELECT * FROM ins)
        |SELECT event_type, count(*) AS n,
        |       count(DISTINCT date) AS n_dates,
        |       CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        def ev = Tables(s, d, "events").select(
          col("event_id"), col("user_id"), col("event_type"), col("value"),
          to_date(col("ts")).as("date"))
        val dir = demoRoot("graft_merge").toString + "/events_m"
        TableStore.append(ev.repartition(4), dir)
        val cutoff = lit("2024-01-07").cast("date")
        val upd = ev.filter(col("event_id") % 37 === 0 && col("date") <= cutoff)
          .withColumn("event_type", lit("updated"))
          .withColumn("value", col("value") + 1000)
        val ins = ev.filter(col("event_id") % 41 === 0 && col("date") <= cutoff)
          .withColumn("event_id", col("event_id") + 100000000L)
          .withColumn("event_type", lit("inserted"))
        TableStore.merge(s, upd.unionByName(ins), dir, Seq("event_id"))
        TableStore.read(s, dir)
          .groupBy("event_type")
          .agg(cnt.as("n"), countDistinct("date").as("n_dates"),
            sum("event_id").as("sum_id"))
          .orderBy("event_type")
      }),

    // ---- S21: corrupt-file quarantine sweep -------------------------------------
    // Build the store one file per date, TRUNCATE 2024-01-02's file to 10
    // bytes (the classic torn object), quarantine, then read. The oracle
    // is the source minus the lost partition: hash equality proves the
    // sweep removed exactly the torn file's rows and the survivors read
    // clean (a direct read of the corrupt store throws — pinned in
    // QuarantineSpec, along with clean-store no-op and idempotence).
    Q("q_quarantine_scan", Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_dates,
        |  1 AS n_quarantined
        |FROM events WHERE CAST(ts AS DATE) <> DATE '2024-01-02'""".stripMargin),
      (s, d) => {
        val dir = demoRoot("graft_quarantine").toString + "/events_q"
        val ev = Tables(s, d, "events")
          .select(col("event_id"), to_date(col("ts")).as("date"))
        // repartition BY date → every date's rows land in one task →
        // exactly one file per partition, so truncating one file loses
        // exactly one date (deterministic corruption)
        TableStore.append(ev.repartition(col("date")), dir)
        val victim = TableStore.dataFiles(s, dir)
          .find(_.contains("date=2024-01-02"))
          .getOrElse(sys.error("no 2024-01-02 file to corrupt"))
        val ch = java.nio.channels.FileChannel.open(
          java.nio.file.Paths.get(new java.net.URI(victim).getPath),
          java.nio.file.StandardOpenOption.WRITE)
        try ch.truncate(10) finally ch.close()
        val nQ = TableStore.quarantineCorrupt(s, dir).size
        TableStore.read(s, dir)
          .agg(cnt.as("n_rows"), sum("event_id").as("id_sum"),
            countDistinct("date").as("n_dates"))
          .select(col("n_rows"), col("id_sum"), col("n_dates"),
            lit(nQ).as("n_quarantined"))
      }),

    // ---- S22: write-path expectations with reject routing -----------------------
    // The Delta-constraints / dbt store-and-route shape under the hash
    // gate: one batch appends through two row-local rules; clean rows
    // land in the table, violators land in _rejects with a deterministic
    // comma-joined reason string. The output reads BOTH written tables
    // back (status = 'ok' or the reject reasons), so the oracle — the
    // same rules restated as a CASE over the raw rows — proves the
    // routing split the batch exactly and lost nothing.
    Q("q_expectations", Some(
      """WITH t AS (SELECT
        |  CASE WHEN l_quantity < 1 OR l_quantity > 45 THEN 1 ELSE 0 END AS v_q,
        |  CASE WHEN l_discount < 0 OR l_discount > 0.05 THEN 1 ELSE 0 END AS v_d
        |  FROM lineitem),
        |lab AS (SELECT CASE
        |    WHEN v_d = 1 AND v_q = 1
        |      THEN 'range:l_discount[0.0,0.05],range:l_quantity[1.0,45.0]'
        |    WHEN v_q = 1 THEN 'range:l_quantity[1.0,45.0]'
        |    WHEN v_d = 1 THEN 'range:l_discount[0.0,0.05]'
        |    ELSE 'ok' END AS status FROM t)
        |SELECT status, count(*) AS n_rows FROM lab
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        val dir = demoRoot("graft_expect").toString + "/lineitem_x"
        val li = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"), col("l_discount"),
            // month-grain partitions, the schema-evolution lesson:
            // lineitem spans ~2400 distinct ship days
            to_date(date_trunc("month", col("l_shipdate"))).as("date"))
        val (nGood, nBad) = TableStore.appendWithExpectations(li, dir, Seq(
          Constraints.InRange("l_quantity", 1, 45),
          Constraints.InRange("l_discount", 0, 0.05)))
        require(nGood + nBad == li.count(), "routing lost rows")
        val ok = TableStore.read(s, dir)
          .agg(cnt.as("n_rows")).select(lit("ok").as("status"), col("n_rows"))
        val rejects = s.read.parquet(s"$dir/_rejects")
          .groupBy(col("reject_reasons").as("status")).agg(cnt.as("n_rows"))
        ok.unionByName(rejects).orderBy("status")
      }),

    // ---- S23: SCD2 dimension — row-level validity intervals ---------------------
    // Init the customer dimension, then two rule-driven update batches
    // (Feb: every 7th key changes segment; Mar: every 11th key changes
    // balance). The oracle derives the SAME timelines from the rules
    // alone — as-of counts at three dates plus the total version count —
    // so hash equality proves close/open/insert interval maintenance end
    // to end, through two generation swaps and a store round trip.
    Q("q_scd2", Some(
      """WITH seg0 AS (
        |  SELECT c_mktsegment AS seg, count(*) AS n FROM customer GROUP BY 1),
        |seg1 AS (
        |  SELECT CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
        |              ELSE c_mktsegment END AS seg, count(*) AS n
        |  FROM customer GROUP BY 1),
        |v AS (SELECT CAST(count(*)
        |    + sum(CASE WHEN c_custkey % 7 = 0 THEN 1 ELSE 0 END)
        |    + sum(CASE WHEN c_custkey % 11 = 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_versions FROM customer)
        |SELECT coalesce(seg0.seg, seg1.seg) AS segment,
        |  CAST(coalesce(seg0.n, 0) AS BIGINT) AS n_jan,
        |  CAST(coalesce(seg1.n, 0) AS BIGINT) AS n_feb,
        |  CAST(coalesce(seg1.n, 0) AS BIGINT) AS n_cur,
        |  (SELECT n_versions FROM v) AS n_versions
        |FROM seg0 FULL OUTER JOIN seg1 ON seg0.seg = seg1.seg
        |ORDER BY segment""".stripMargin),
      (s, d) => {
        import graft.store.Scd2
        val dir = demoRoot("graft_scd2").toString + "/cust_dim"
        val c = Tables(s, d, "customer").select(col("c_custkey"),
          col("c_mktsegment"), round(col("c_acctbal"), 2).as("c_acctbal"))
        Scd2.init(c, dir, java.sql.Date.valueOf("2024-01-01"))
        val b1 = c.withColumn("c_mktsegment",
          when(col("c_custkey") % 7 === 0, lit("MOVED"))
            .otherwise(col("c_mktsegment")))
        Scd2.apply(s, dir, b1, Seq("c_custkey"),
          java.sql.Date.valueOf("2024-02-01"))
        val b2 = b1.withColumn("c_acctbal",
          when(col("c_custkey") % 11 === 0,
            round(col("c_acctbal") + 100, 2)).otherwise(col("c_acctbal")))
        Scd2.apply(s, dir, b2, Seq("c_custkey"),
          java.sql.Date.valueOf("2024-03-01"))
        def bySeg(df: org.apache.spark.sql.DataFrame, as: String) =
          df.groupBy(col("c_mktsegment").as("segment")).agg(cnt.as(as))
        val jan = bySeg(Scd2.asOf(s, dir, java.sql.Date.valueOf("2024-01-15")), "n_jan")
        val feb = bySeg(Scd2.asOf(s, dir, java.sql.Date.valueOf("2024-02-15")), "n_feb")
        val cur = bySeg(Scd2.current(s, dir), "n_cur")
        val versions = graft.store.TableStore.read(s, dir)
          .agg(cnt.as("n_versions"))
        jan.join(feb, Seq("segment"), "full_outer")
          .join(cur, Seq("segment"), "full_outer")
          .select(col("segment"),
            coalesce(col("n_jan"), lit(0L)).as("n_jan"),
            coalesce(col("n_feb"), lit(0L)).as("n_feb"),
            coalesce(col("n_cur"), lit(0L)).as("n_cur"))
          .crossJoin(broadcast(versions))
          .orderBy("segment")
      }),

    // ---- S23+: point-in-time join against the SCD2 dimension --------------------
    // Facts join the dimension version valid AT each fact's own date —
    // the feature-store correctness rule that prevents label leakage.
    // Dim: customer segments, with every 7th key moving to 'MOVED' on
    // 1998-01-01 (mid orders range), so pre-1998 orders aggregate under
    // the ORIGINAL segment and later ones under the new — exactly what a
    // join against current-state attributes would get wrong. The oracle
    // derives version-at-date from the rule alone.
    Q("q_pit_join", Some(
      """SELECT CASE WHEN o.o_custkey % 7 = 0
        |         AND o.o_orderdate >= TIMESTAMP '1998-01-01'
        |       THEN 'MOVED' ELSE c.c_mktsegment END AS segment,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        import graft.store.Scd2
        val dir = demoRoot("graft_pit").toString + "/cust_dim"
        val c = Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))
        // Init at TPC-H's global date floor: pitJoin is INNER, so a fact
        // dated before the first valid_from silently drops while the
        // oracle counts every order — assert the coupling loudly instead
        // of letting a fixture regen surface as an opaque hash mismatch.
        val floor = java.sql.Date.valueOf("1992-01-01")
        val minOrder = Tables(s, d, "orders")
          .agg(min(col("o_orderdate").cast("date"))).head().getDate(0)
        require(!minOrder.before(floor),
          s"fixture orders start $minOrder, before the dimension floor $floor")
        Scd2.init(c, dir, floor)
        Scd2.apply(s, dir, c.withColumn("c_mktsegment",
            when(col("c_custkey") % 7 === 0, lit("MOVED"))
              .otherwise(col("c_mktsegment"))),
          Seq("c_custkey"), java.sql.Date.valueOf("1998-01-01"))
        val facts = Tables(s, d, "orders").select(
          col("o_custkey").as("c_custkey"),
          col("o_orderdate"), col("o_totalprice"))
        Scd2.pitJoin(facts, s, dir, Seq("c_custkey"), col("o_orderdate"))
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(cnt.as("n_orders"),
            Tables.sumMoney(col("o_totalprice")).as("revenue"))
          .orderBy("segment")
      }),

    // ---- R2+: DYNAMIC partition pruning (runtime, not static) -------------------
    // The static-pruning row (R2) covers literal date predicates; this is
    // the case that matters for star joins at scale: the selective filter
    // sits on the DIMENSION, and the fact partitions to read are only
    // knowable at RUNTIME from the dim's surviving keys. Spark's DPP turns
    // the broadcast dim into a partition-filter subquery on the fact scan
    // (`dynamicpruningexpression` — plan-asserted in DppSpec with a
    // files-read bound), so the fact store opens 5 of 30 partitions here
    // instead of all 30. The oracle is the direct filter over the raw
    // table: pruning must be invisible to results.
    Q("q_dpp", Some(
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events WHERE day(CAST(ts AS DATE)) <= 5
        |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        val dir = demoRoot("graft_dpp").toString + "/events_p"
        TableStore.append(Tables(s, d, "events")
          .select(col("event_id"), col("event_type"),
            to_date(col("ts")).as("date")).repartition(4), dir)
        val fact = TableStore.read(s, dir)
        val dim = Tables(s, d, "events")
          .select(to_date(col("ts")).as("date")).distinct()
          .filter(dayofmonth(col("date")) <= 5)
        fact.join(dim, "date")
          .groupBy("event_type")
          .agg(cnt.as("n"), sum("event_id").as("id_sum"))
          .orderBy("event_type")
      }),

    // ---- S20: predicate-scoped overwrite (replaceWhere backfill) ----------------
    // Build the events store, then run the replaceWhere: "rebuild
    // 01-03..01-05 from the corrected (error-free) source" where the
    // corrected batch produces NO rows for 01-05 — that partition must be
    // DROPPED, the two repopulated, and everything outside the predicate
    // slice stay byte-untouched. The oracle
    // recomputes the final state from the raw table; n_dates per type
    // proves the emptied partition is gone.
    Q("q_replace_where", Some(
      """WITH final AS (
        |  SELECT event_id, event_type, CAST(ts AS DATE) AS date FROM events
        |  WHERE CAST(ts AS DATE) < DATE '2024-01-03'
        |     OR CAST(ts AS DATE) > DATE '2024-01-05'
        |  UNION ALL
        |  SELECT event_id, event_type, CAST(ts AS DATE) AS date FROM events
        |  -- not IN(DATE…,DATE…): DuckDB 1.0 mis-coerces an IN list against
        |  -- CAST(ts AS DATE) (returns 0 rows); BETWEEN compares correctly
        |  WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-03' AND DATE '2024-01-04'
        |    AND (event_type <> 'error' OR event_type IS NULL))
        |SELECT event_type, count(*) AS n,
        |       count(DISTINCT date) AS n_dates,
        |       CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        def ev = Tables(s, d, "events").select(
          col("event_id"), col("event_type"), to_date(col("ts")).as("date"))
        val dir = demoRoot("graft_replace").toString + "/events_r"
        TableStore.append(ev.repartition(4), dir)
        val lo = lit("2024-01-03").cast("date")
        val hi = lit("2024-01-05").cast("date")
        val batch = ev
          .filter(col("date").isin(lit("2024-01-03"), lit("2024-01-04")))
          .filter(col("event_type") =!= "error" || col("event_type").isNull)
        TableStore.replaceWhere(s, batch, dir,
          col("date") >= lo && col("date") <= hi)
        TableStore.read(s, dir)
          .groupBy("event_type")
          .agg(cnt.as("n"), countDistinct("date").as("n_dates"),
            sum("event_id").as("sum_id"))
          .orderBy("event_type")
      }),

    // ---- Z-order compaction + footer-stats data skipping e2e --------------------
    // Lay events out z-ordered on (user_id, value), then answer a 2-D range
    // query through the file-pruned read path. The oracle is the PLAIN
    // range filter over the original table: hash-equality proves pruning
    // loses no rows while `ZOrderSpec` proves it skips most files. The
    // result is materialized before the temp store is deleted.
    Q("q_zorder_scan", Some(
      """SELECT event_id, user_id, value FROM events
        |WHERE user_id BETWEEN 3 AND 9 AND value BETWEEN 20 AND 120
        |ORDER BY event_id""".stripMargin),
      (s, d) => {
        val dir = demoRoot("graft_zorder").toString + "/events_z"
        // only the z-demo columns travel through the two write passes —
        // hauling the bulky props JSON through append+compact would just
        // tax the build without exercising anything new
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            to_date(col("ts")).as("date"))
          .repartition(4)
        TableStore.append(ev, dir)
        TableStore.compact(s, dir, zorderBy = Seq("user_id", "value"),
          targetFileBytes = 64L * 1024)
        // the query is the pruned 2-D range READ against the z-laid store
        // (the store outlives the query, so no eager materialization or
        // checkpoint block is needed)
        val pruned = TableStore.readPruned(s, dir, Seq(
          TableStore.ColRange("user_id", 3, 9),
          TableStore.ColRange("value", 20, 120)))
        pruned.df
          .filter(col("user_id").between(3, 9) && col("value").between(20, 120))
          .select("event_id", "user_id", "value")
          .orderBy("event_id")
      })
  )
}
