package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Bloom-filter sidecar for EQUALITY-predicate file skipping (S8b in
  * SURVEY.md §2.1) — the Delta/Iceberg bloom-index analog for the
  * log store.
  *
  * Footer min/max skipping ([[TableStore.readPruned]]) proves absence
  * only for RANGE predicates over clustered layouts; a point lookup on a
  * high-cardinality UNCLUSTERED column ("fetch these 3 document ids out of
  * 100 TB") finds every file's [min,max] straddling the probe and prunes
  * nothing. A per-file Bloom filter answers "can this file contain value
  * v?" probabilistically-no/definitely-maybe: false positives only cost
  * extra files read, never correctness — the same conservative contract as
  * min/max skipping.
  *
  * Layout: one row per (file, col) with a fixed 8 KiB bitset in
  * `dir/_bloom` (hidden to data listings; keyed by the log's relative
  * file paths). Build is one distributed
  * scan of the indexed columns — per-file bitsets compose as an
  * associative/commutative OR `Aggregator`, so map-side partials apply
  * and nothing driver-sized materializes. The probe path reads ONLY the
  * sidecar: probe positions are derived driver-side (same `XXH64` kernel
  * the build uses) and compiled into bit-test column expressions, so the
  * keep/drop verdict computes inside the sidecar scan and only the
  * dropped-file list reaches the driver — O(files) strings, never
  * O(files x 8 KiB) bitsets.
  *
  * 8 KiB x 5 probes holds ~6k distinct values/file at <1% false-positive —
  * sized for compacted files carrying high-cardinality ids; a hotter
  * column (more distinct per file) degrades toward keep-everything,
  * never toward wrong results.
  */
object BloomSkip {

  /** Bits per (file, col) filter: 2^16 = 8 KiB. */
  val Bits = 1 << 16
  /** Probes per value. */
  val K = 5

  /** Probe position `i` for value `v` — MUST match between build (executor
    * side, via the aggregator) and probe (driver side, compiled into the
    * sidecar query): Spark's own public XXH64 kernel seeded by the probe
    * index.
    */
  private[store] def position(v: Long, i: Int): Int =
    (((XXH64.hashLong(v, i.toLong) % Bits) + Bits) % Bits).toInt

  /** Per-group Bloom bitset of long values: fixed 1024-long buffer, OR to
    * merge — associative + commutative, so it partial-aggregates map-side
    * like a sum.
    */
  private class BloomAgg
      extends org.apache.spark.sql.expressions.Aggregator[
        java.lang.Long, Array[Long], Array[Long]] {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    override def zero: Array[Long] = new Array[Long](Bits / 64)
    override def reduce(b: Array[Long], v: java.lang.Long): Array[Long] = {
      if (v != null) {
        var i = 0
        while (i < K) {
          val p = position(v, i)
          b(p >>> 6) |= 1L << (p & 63)
          i += 1
        }
      }
      b
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < a.length) { a(i) |= b(i); i += 1 }
      a
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      ExpressionEncoder()
  }

  /** Build (or rebuild) the Bloom sidecar `dir/_bloom` for `cols`
    * (long-typed id columns) over the current version's files. One
    * distributed scan per indexed column; file paths stored relative to
    * the table dir, the keys the log uses. Files a later commit adds are
    * absent from the sidecar and kept conservatively; removed ones are
    * never planned, so the sidecar needs no versioning.
    */
  def write(spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "bloom sidecar needs >=1 column")
    val s = TableStore.snapshot(spark, dir)
    val qualBase = TableStore.fs(spark, dir).makeQualified(new Path(dir)).toString
    val agg = udaf(new BloomAgg)
    val perCol = cols.map { c =>
      TableStore.frame(spark, dir, s, s.files.values)
        .select(input_file_name().as("file"), col(c).cast("long").as("v"))
        .groupBy("file").agg(agg(col("v")).as("bits"))
        .withColumn("col", lit(c))
    }
    val rel = regexp_replace(col("file"),
      lit(java.util.regex.Pattern.quote(qualBase + "/")), lit(""))
    perCol.reduce(_ unionByName _)
      .select(rel.as("file"), col("col"), col("bits"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/_bloom")
  }

  /** Equality-pruned read: keep only files whose Bloom filter admits at
    * least one probe value (files without a sidecar row — e.g. appended
    * after the last [[write]] — are kept, conservative). The caller still
    * applies the row filter; pruning is a superset guarantee.
    */
  def readPrunedEq(spark: SparkSession, dir: String, colName: String,
      values: Seq[Long]): TableStore.PrunedRead = {
    require(values.nonEmpty, "readPrunedEq needs >=1 probe value")
    val s = TableStore.snapshot(spark, dir)
    val files = s.files.values.toSeq
    val bp = new Path(dir, "_bloom")
    val kept =
      if (TableStore.fs(spark, dir).exists(new Path(bp, "_SUCCESS"))) {
        // one value MAY be present iff all K of its bits are set; a file
        // survives iff ANY value may be present. The probe (word-index,
        // mask) pairs are derived driver-side and shipped as ONE literal
        // array-of-arrays evaluated by exists/forall — the plan stays
        // CONSTANT-SIZE in the value count (a per-value boolean subtree
        // nests the conversion recursion ~5·N deep and overflows the stack
        // by ~2.5k values), while the verdict still computes inside the
        // sidecar scan and only the dropped-file list reaches the driver.
        val probes: Seq[Seq[(Int, Long)]] = values.map { v =>
          (0 until K).map { i =>
            val p = position(v, i)
            (p / 64 + 1, 1L << (p & 63))
          }
        }
        val admits = exists(typedLit(probes), ps =>
          forall(ps, s => element_at(col("bits"), s.getField("_1"))
            .bitwiseAND(s.getField("_2")) =!= lit(0L)))
        val dropped = spark.read.parquet(bp.toString)
          .filter(col("col") === colName && !admits)
          .select("file").collect().map(_.getString(0)).toSet
        files.filterNot(a => dropped(a.path))
      } else files
    TableStore.PrunedRead(TableStore.frame(spark, dir, s, kept), kept.size,
      files.size, statsSource = "bloom")
  }
}
