package graft.store

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** S8b Bloom-sidecar equality skipping. */
class BloomSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._


  /** A store whose id space is SCATTERED across date partitions (id % 4
    * picks the date), so min/max covers everything and only the bloom can
    * prune.
    */
  private def scatteredStore(): String = {
    val dir = tmpDir("bloom") + "/t"
    val df = (0L until 4000L).map { i =>
      (i, s"p$i", java.sql.Date.valueOf(s"2024-01-0${i % 4 + 1}"))
    }.toDF("id", "payload", "date")
    TableStore.append(df.repartition(4), dir)
    TableStore.compact(spark, dir)
    BloomSkip.write(spark, dir, Seq("id"))
    dir
  }

  test("bloom prune keeps the files holding the probe ids, loses no rows") {
    val dir = scatteredStore()
    val probes = Seq(17L, 1031L, 3999L)
    val pr = BloomSkip.readPrunedEq(spark, dir, "id", probes)
    assert(pr.statsSource === "bloom")
    assert(pr.filesKept < pr.filesTotal,
      s"no skipping: kept ${pr.filesKept}/${pr.filesTotal}")
    val got = pr.df.filter($"id".isin(probes: _*))
      .select("id", "payload").orderBy("id").collect()
    assert(got.map(_.getLong(0)).toSeq === probes.sorted)
    assert(got.map(_.getString(1)).toSeq === probes.sorted.map(i => s"p$i"))
  }

  test("flat-table bloom sidecar lives INSIDE the table dir (no orphan " +
    "next to sibling tables) and prunes") {
    val dir = tmpDir("bloom") + "/flatbloom"
    (0L until 400L).map { i =>
      (i, s"p$i", java.sql.Date.valueOf(s"2024-01-0${i % 4 + 1}"))
    }.toDF("id", "payload", "date")
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    BloomSkip.write(spark, dir, Seq("id"))
    assert(f.exists(new org.apache.hadoop.fs.Path(dir, "_bloom")),
      "flat table's sidecar must live inside the table dir")
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir).getParent, "bloom_flatbloom")),
      "sidecar orphaned OUTSIDE the table dir")
    val pr = BloomSkip.readPrunedEq(spark, dir, "id", Seq(17L))
    assert(pr.statsSource === "bloom")
    assert(pr.df.filter($"id" === 17L).count() === 1)
  }

  test("a probe id absent from the table prunes every file") {
    val dir = scatteredStore()
    val pr = BloomSkip.readPrunedEq(spark, dir, "id", Seq(999999999L))
    // 8 KiB x 5 probes at ~1k distinct/file: a single alien value passing
    // all 5 bit tests in EVERY file is cosmically unlikely; allow one FP
    assert(pr.filesKept <= 1, s"kept ${pr.filesKept}/${pr.filesTotal}")
    assert(pr.df.filter($"id" === 999999999L).count() === 0)
  }

  test("no bloom sidecar -> conservative keep-everything fallback") {
    val dir = tmpDir("bloom") + "/t"
    val df = (0L until 100L).map(i =>
      (i, java.sql.Date.valueOf("2024-01-01"))).toDF("id", "date")
    TableStore.append(df, dir)
    val pr = BloomSkip.readPrunedEq(spark, dir, "id", Seq(5L))
    assert(pr.filesKept === pr.filesTotal)
    assert(pr.df.filter($"id" === 5L).count() === 1)
  }

  test("files appended AFTER the sidecar write are kept (stale sidecar is safe)") {
    val dir = scatteredStore()
    val late = Seq((999000L, "late", java.sql.Date.valueOf("2024-01-09")))
      .toDF("id", "payload", "date")
    TableStore.append(late, dir)
    val pr = BloomSkip.readPrunedEq(spark, dir, "id", Seq(999000L))
    assert(pr.df.filter($"id" === 999000L).count() === 1,
      "a sidecar-less file must never be skipped")
  }

  test("compaction keeps the bloom sidecar safe: its new files are kept " +
    "until a rebuild indexes them") {
    val dir = scatteredStore()
    // the compacted files have no sidecar rows yet, so the pruned read
    // keeps them all — never stale bits
    TableStore.compact(spark, dir)
    val pr = BloomSkip.readPrunedEq(spark, dir, "id", Seq(17L))
    assert(pr.filesKept === pr.filesTotal)
    assert(pr.df.filter($"id" === 17L).count() === 1)
    // rebuilding indexes the current version's files in place
    BloomSkip.write(spark, dir, Seq("id"))
    val pr2 = BloomSkip.readPrunedEq(spark, dir, "id", Seq(17L))
    assert(pr2.filesKept < pr2.filesTotal)
    assert(pr2.df.filter($"id" === 17L).count() === 1)
    val root = new java.io.File(dir.stripPrefix("file:"))
    assert(root.listFiles().map(_.getName).filter(_.contains("bloom")).toSeq ===
      Seq("_bloom"))
  }

  test("a 3k-value probe stays a constant-size plan (literal probe array " +
    "+ exists/forall), prunes, and loses no rows") {
    // the per-value boolean-subtree form nested the column-to-expression
    // conversion ~5·N deep and overflowed the stack near 2.5k values —
    // exactly the shortlist×queries shape the IVF-PQ rerank probes with
    val dir = scatteredStore()
    val probes = (0L until 3000L).map(i => i * 7919L % 1000000L).distinct
    val pr = BloomSkip.readPrunedEq(spark, dir, "id", probes)
    assert(pr.statsSource === "bloom")
    val present = probes.filter(_ < 4000L)
    val got = pr.df.filter($"id".isin(probes: _*)).select("id")
      .as[Long].collect().toSet
    assert(got === present.toSet, "pruned read lost probed rows")
  }

  test("a FLAT table whose root dir is NAMED g<digits> is still a flat " +
    "table: sidecar lands inside it, not orphaned beside it") {
    // the sidecar's place never depends on the directory's name — the
    // name-pattern trap this pins
    val dir = tmpDir("bloom") + "/g5"
    (0L until 400L).map { i =>
      (i, s"p$i", java.sql.Date.valueOf(s"2024-01-0${i % 4 + 1}"))
    }.toDF("id", "payload", "date")
      .write.mode("overwrite").partitionBy("date").parquet(dir)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.delete(new org.apache.hadoop.fs.Path(dir, "_SUCCESS"), false)
    BloomSkip.write(spark, dir, Seq("id"))
    assert(f.exists(new org.apache.hadoop.fs.Path(dir, "_bloom")),
      "g-named flat table's sidecar must live inside the table dir")
    assert(!f.exists(new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(dir).getParent, "bloom_g5")),
      "sidecar orphaned OUTSIDE the table, keyed by the dir's name")
    val pr = BloomSkip.readPrunedEq(spark, dir, "id", Seq(17L))
    assert(pr.statsSource === "bloom")
    assert(pr.filesKept < pr.filesTotal)
    assert(pr.df.filter($"id" === 17L).count() === 1)
  }

  test("probe positions are stable across build and probe sides") {
    // the build hashes executor-side through the aggregator, the probe
    // driver-side through position(): both must be THIS function
    val p = (0 until BloomSkip.K).map(i => BloomSkip.position(42L, i))
    assert(p === p.map(identity)) // deterministic
    assert(p.forall(x => x >= 0 && x < BloomSkip.Bits))
    assert(p.distinct.size > 1) // k probes spread
  }
}
