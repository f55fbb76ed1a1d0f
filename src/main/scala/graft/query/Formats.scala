package graft.query

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Q

/** Interchange-format sources/sinks (SURVEY.md §2.1 extension): CSV and
  * ORC roundtrips through the engine's own writers and readers. The oracle
  * never sees the intermediate files — it recomputes the same aggregate
  * straight from parquet, so hash equality proves the format encode+decode
  * chain is LOSSLESS for every exercised type (int64, double, timestamp,
  * strings including embedded quotes/commas/escapes for CSV).
  *
  * Scale notes baked into the demos:
  *  - CSV is written WITHOUT embedded newlines so the read stays
  *    line-splittable (multiLine=true forces one task per file — the
  *    classic 100 TB CSV trap). Quotes/commas/backslashes round-trip via
  *    standard quoting; newline content belongs in parquet/ORC, not CSV.
  *  - The CSV read declares an explicit schema: schema inference is a
  *    full extra pass over the data at scale, and silently types
  *    everything it can't parse as string.
  *  - ORC goes through Spark's vectorized reader with predicate pushdown
  *    (same scan machinery as parquet) — the roundtrip covers the
  *    columnar sink+source pair the parquet-based store doesn't.
  */
object Formats {

  // a string that CSV MUST quote correctly: embedded comma, double quote,
  // and backslash around real column content
  private def tricky = concat(
    col("o_orderpriority"), lit("\",x\\,"), col("o_orderstatus"))

  private val trickySql = """o_orderpriority || '",x\,' || o_orderstatus"""

  private def ordersSlice(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d, "orders").select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
      col("o_orderdate"), tricky.as("tricky"))

  private val checksumSql =
    s"""SELECT
      |  CAST(count(*) AS BIGINT) AS n_rows,
      |  CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
      |  CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
      |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS max_date,
      |  CAST(sum(length($trickySql)) AS BIGINT) AS tricky_len
      |FROM orders""".stripMargin

  private def checksum(df: org.apache.spark.sql.DataFrame) =
    df.agg(
      Tables.cnt.as("n_rows"),
      sum("o_orderkey").as("key_sum"),
      Tables.sumMoney(col("o_totalprice")).as("price_sum"),
      count_distinct(col("o_orderstatus")).as("n_status"),
      Tables.tsSec(max(col("o_orderdate"))).as("max_date"),
      sum(length(col("tricky"))).as("tricky_len"))

  private val csvSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("tricky", StringType)))

  val all: Seq[Q] = Seq(

    // ---- S24: physical storage audit from footers only --------------------------
    // The engine reads parquet footer thrift fields (compressed /
    // uncompressed totals, value counts) in a distributed footer pass —
    // zero data pages. DuckDB's parquet_metadata() would restate the
    // bytes exactly, but its path argument must be a CONSTANT and the
    // driver harness only exposes table VIEWS — so the oracle pins what
    // SQL can state independently: the footer's per-column value count
    // must equal count(*) (a genuine footer-vs-data cross-check on every
    // column), the column list must be the full schema, and the byte
    // fields satisfy sanity laws (positive; compressed within 2x of
    // uncompressed — parquet chunks can exceed raw size slightly on
    // incompressible data, e.g. l_linenumber at this fixture).
    Q("q_storage_audit", Some(
      """WITH c AS (SELECT count(*) AS n FROM lineitem)
        |SELECT t.col_name, (SELECT n FROM c) AS n_values, true AS bytes_ok
        |FROM (VALUES ('l_discount'),('l_extendedprice'),('l_linenumber'),
        |  ('l_linestatus'),('l_orderkey'),('l_partkey'),('l_quantity'),
        |  ('l_returnflag'),('l_shipdate'),('l_suppkey'),('l_tax'))
        |  t(col_name)
        |ORDER BY 1""".stripMargin),
      (s, d) => graft.store.StorageAudit
        .columnProfile(s, Seq(s"$d/lineitem.parquet"))
        .select(col("column").as("col_name"), col("n_values"),
          (col("compressed_bytes") > 0 && col("uncompressed_bytes") > 0 &&
            col("compressed_bytes") <= col("uncompressed_bytes") * 2)
            .as("bytes_ok"))
        .orderBy("col_name")),

    // ---- S18: CSV sink + scan (quoted, header, explicit schema) -------------
    Q("q_csv_roundtrip", Some(checksumSql),
      (s, d) => {
        val dir = Pipelines.demoRoot("graft_csv").toString + "/orders_csv"
        ordersSlice(s, d).write.option("header", "true").csv(dir)
        checksum(s.read.schema(csvSchema).option("header", "true").csv(dir))
      }),

    // ---- S19: ORC sink + vectorized scan ------------------------------------
    Q("q_orc_roundtrip", Some(checksumSql),
      (s, d) => {
        val dir = Pipelines.demoRoot("graft_orc").toString + "/orders_orc"
        ordersSlice(s, d).write.orc(dir)
        checksum(s.read.orc(dir))
      })
  )
}
