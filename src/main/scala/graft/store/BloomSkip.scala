package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Bloom-filter sidecar for EQUALITY-predicate file skipping (S8b in
  * SURVEY.md §2.1) — the Delta/Iceberg bloom-index analog for the
  * generation store.
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
  * Layout: one row per (file, col) with a fixed 8 KiB bitset
  * (`bloom_g<N>` sibling of the generation dir: readers resolve only
  * `g<N>`, so a sibling is invisible to them). Build is one distributed
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

  /** Sidecar location. Generation dirs keep the sibling convention
    * (`dir/bloom_g<N>` next to `dir/g<N>` — superseded with its
    * generation). A legacy FLAT table's dataDir IS the table root: the
    * sibling form would land the sidecar OUTSIDE the table, next to other
    * tables, as a permanent orphan no vacuum ever visits — so flat tables
    * keep it inside as `_bloom` (underscore = hidden to data listings;
    * explicit-path reads of the sidecar itself still work).
    *
    * The layout is decided by what [[TableStore.currentGeneration]]
    * RESOLVED (`isGeneration`), never by the directory's NAME: a flat
    * table whose root happens to be named `g<digits>` is still a flat
    * table, and a name-pattern test would orphan its sidecar outside the
    * table — the exact hazard the flat-vs-generation split exists to
    * close.
    */
  private def bloomPath(dataDir: String, isGeneration: Boolean): Path = {
    val p = new Path(dataDir)
    if (isGeneration) new Path(p.getParent, s"bloom_${p.getName}")
    else new Path(p, "_bloom")
  }

  /** Where a READ should look: the canonical location, falling back — for
    * flat tables only — to the pre-`_bloom` sibling convention
    * (`<parent>/bloom_<name>`), so a sidecar built before the layout
    * change keeps skipping until the next [[write]] rebuilds it in place.
    */
  private def readBloomPath(f: org.apache.hadoop.fs.FileSystem,
      dataDir: String, isGeneration: Boolean): Path = {
    val canonical = bloomPath(dataDir, isGeneration)
    if (isGeneration || f.exists(new Path(canonical, "_SUCCESS"))) canonical
    else {
      val p = new Path(dataDir)
      val legacy = new Path(p.getParent, s"bloom_${p.getName}")
      if (f.exists(new Path(legacy, "_SUCCESS"))) legacy else canonical
    }
  }

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

  /** Build (or rebuild) the Bloom sidecar for `cols` (long-typed id
    * columns) over the CURRENT generation's files. One distributed scan
    * per indexed column; file paths stored relative to the generation dir
    * (the sidecar survives a directory move and swaps/vacuums with its
    * generation).
    */
  def write(spark: SparkSession, dir: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "bloom sidecar needs >=1 column")
    val gen = TableStore.currentGeneration(spark, dir)
    val dataDir = gen.map(_._2).getOrElse(dir)
    val f = dataDirFs(spark, dataDir)
    val qualBase = f.makeQualified(new Path(dataDir)).toString
    val agg = udaf(new BloomAgg)
    val perCol = cols.map { c =>
      spark.read.parquet(dataDir)
        .select(input_file_name().as("file"), col(c).cast("long").as("v"))
        .groupBy("file").agg(agg(col("v")).as("bits"))
        .withColumn("col", lit(c))
    }
    val rel = regexp_replace(col("file"),
      lit(java.util.regex.Pattern.quote(qualBase + "/")), lit(""))
    perCol.reduce(_ unionByName _)
      .select(rel.as("file"), col("col"), col("bits"))
      .coalesce(1).write.mode("overwrite")
      .parquet(bloomPath(dataDir, gen.isDefined).toString)
  }

  /** Equality-pruned read: keep only files whose Bloom filter admits at
    * least one probe value (files without a sidecar row — e.g. appended
    * after the last [[write]] — are kept, conservative). The caller still
    * applies the row filter; pruning is a superset guarantee.
    */
  def readPrunedEq(spark: SparkSession, dir: String, colName: String,
      values: Seq[Long]): TableStore.PrunedRead = {
    require(values.nonEmpty, "readPrunedEq needs >=1 probe value")
    val gen = TableStore.currentGeneration(spark, dir)
    val dataDir = gen.map(_._2).getOrElse(dir)
    val f = dataDirFs(spark, dataDir)
    val bp = readBloomPath(f, dataDir, gen.isDefined)
    val files = TableStore.listParquet(spark, dataDir)
    val kept =
      if (f.exists(new Path(bp, "_SUCCESS"))) {
        // one value MAY be present iff all K of its bits are set; a file
        // survives iff ANY value may be present. The probe (word-index,
        // mask) pairs are derived driver-side and shipped as ONE literal
        // array-of-arrays evaluated by exists/forall — the plan stays
        // CONSTANT-SIZE in the value count (a per-value boolean subtree,
        // the earlier form, nests the conversion recursion ~5·N deep and
        // overflows the stack by ~2.5k values), while the verdict still
        // computes inside the sidecar scan and only the dropped-file list
        // reaches the driver.
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
          .select("file").collect().iterator
          .map(r => f.makeQualified(new Path(dataDir, r.getString(0))).toString)
          .toSet
        files.filterNot(dropped)
      } else files
    val df =
      if (files.isEmpty) spark.read.parquet(dataDir)
      else if (kept.isEmpty)
        spark.read.option("basePath", dataDir).parquet(files.head)
          .where(lit(false))
      else spark.read.option("basePath", dataDir).parquet(kept: _*)
    TableStore.PrunedRead(df, kept.size, files.size, statsSource = "bloom")
  }

  private def dataDirFs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
}
