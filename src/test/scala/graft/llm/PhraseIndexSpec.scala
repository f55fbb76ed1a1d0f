package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** S12/L25: stored inverted phrase index. */
class PhraseIndexSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def crafted() = Seq(
    (1L, "alpha beta gamma delta"),        // match: contains the phrase
    (2L, "x alpha beta gamma"),            // match at end
    (3L, "alpha beta delta gamma"),        // all words, wrong order: no
    (4L, "stalpha beta gamma y"),          // mid-word trap: 'stalpha' != 'alpha'
    (5L, "alpha beta"),                    // too short to hold the phrase
    (6L, "unrelated words entirely here")
  ).toDF("doc_id", "text")

  private def scan(df: org.apache.spark.sql.DataFrame, phrase: String) =
    df.filter(concat(lit(" "), col("text"), lit(" ")).contains(s" $phrase "))
      .select("doc_id").as[Long].collect().toSet

  test("phraseSearch == full-scan word-aligned contains, incl. the " +
    "mid-word and wrong-order traps") {
    val df = crafted()
    val dir = tmpDir("phraseidx")
    PhraseIndex.buildPhraseIndex(df, dir)
    for (phrase <- Seq("alpha beta gamma", "beta gamma delta",
        "unrelated words entirely", "absent words completely")) {
      val got = References.phraseSearch(spark, dir, df, phrase)
        .as[Long].collect().toSet
      assert(got === scan(df, phrase), s"phrase '$phrase'")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("multi-gram phrases intersect postings (4+ words -> 2+ grams)") {
    val df = crafted()
    val dir = tmpDir("phraseidx2")
    PhraseIndex.buildPhraseIndex(df, dir)
    val got = References.phraseSearch(spark, dir, df, "alpha beta gamma delta")
      .as[Long].collect().toSet
    assert(got === Set(1L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("short phrase (< n words) falls back to the direct verify scan") {
    val df = crafted()
    val dir = tmpDir("phraseidx3")
    PhraseIndex.buildPhraseIndex(df, dir)
    val got = References.phraseSearch(spark, dir, df, "alpha beta")
      .as[Long].collect().toSet
    assert(got === scan(df, "alpha beta"))
    assert(got.contains(5L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  // a corpus big enough that a 20-file doc store has real skipping grain:
  // 3 planted matches among 200 filler docs
  private def planted() = {
    val filler = (1L to 200L)
      .map(i => (i, s"filler words number $i nothing here"))
    val hits = Seq(301L, 302L, 303L)
      .map(i => (i, s"prefix $i alpha beta gamma suffix"))
    (filler ++ hits).toDF("doc_id", "text")
  }

  test("phraseSearchPruned == phraseSearch; the verify fetch reads a " +
    "BOUNDED file set (Bloom-pruned), never the whole doc store") {
    val df = planted()
    val root = tmpDir("phrasepruned")
    PhraseIndex.buildPhraseIndex(df, s"$root/index")
    df.repartitionByRange(20, col("doc_id")).write.parquet(s"$root/docs")
    graft.store.BloomSkip.write(spark, s"$root/docs", Seq("doc_id"))
    var fetch: Option[(Int, Int)] = None
    val got = PhraseIndex.phraseSearchPruned(spark, s"$root/index",
        s"$root/docs", "alpha beta gamma",
        onFetch = (k, t) => fetch = Some((k, t)))
      .as[Long].collect().toSet
    assert(got === Set(301L, 302L, 303L))
    assert(got === References.phraseSearch(spark, s"$root/index", df,
      "alpha beta gamma").as[Long].collect().toSet)
    val (kept, total) = fetch.getOrElse(fail("pruned fetch did not run"))
    // 3 candidates in a 20-file store: the fetch must skip most files
    // (false positives may keep a couple extra — never most of the store)
    assert(total >= 15, s"store has $total files — fixture lost its grain")
    assert(kept <= 6, s"fetch kept $kept of $total files — not pruned")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("phraseSearchPruned above maxFetch falls back to the semi-join " +
    "scan and stays exact; short phrases fall back to the direct scan") {
    val df = planted()
    val root = tmpDir("phrasecap")
    PhraseIndex.buildPhraseIndex(df, s"$root/index")
    df.repartitionByRange(20, col("doc_id")).write.parquet(s"$root/docs")
    graft.store.BloomSkip.write(spark, s"$root/docs", Seq("doc_id"))
    var fetched = false
    val capped = PhraseIndex.phraseSearchPruned(spark, s"$root/index",
        s"$root/docs", "alpha beta gamma", maxFetch = 1,
        onFetch = (_, _) => fetched = true)
      .as[Long].collect().toSet
    assert(capped === Set(301L, 302L, 303L))
    assert(!fetched, "over-cap search must not run the literal-probe fetch")
    val short = PhraseIndex.phraseSearchPruned(spark, s"$root/index",
      s"$root/docs", "alpha beta").as[Long].collect().toSet
    assert(short === scan(df, "alpha beta"))
    val none = PhraseIndex.phraseSearchPruned(spark, s"$root/index",
      s"$root/docs", "absent words completely").as[Long].collect().toSet
    assert(none === Set.empty[Long])
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("buildPhraseIndex over an existing index replaces it: readers see " +
    "the rebuilt corpus only") {
    val v1 = crafted()
    val dir = tmpDir("phrasegen")
    PhraseIndex.buildPhraseIndex(v1, dir)
    assert(References.phraseSearch(spark, dir, v1, "alpha beta gamma")
      .as[Long].collect().toSet === Set(1L, 2L))
    // rebuild over a DIFFERENT corpus: docs 1 and 2 are gone, doc 200 arrives
    val v2 = Seq((200L, "fresh alpha beta gamma corpus"),
      (201L, "no match here at all")).toDF("doc_id", "text")
    PhraseIndex.buildPhraseIndex(v2, dir)
    val got = References.phraseSearch(spark, dir, v1.unionByName(v2),
        "alpha beta gamma")
      .as[Long].collect().toSet
    assert(got === Set(200L),
      s"rebuild must replace history (got $got — old postings survived)")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("phrase index _meta rejects an n/nBuckets mismatch instead of " +
    "silently losing matches") {
    val docs = Seq((0L, "the quick brown fox")).toDF("doc_id", "text")
    val dir = tmpDir("phrasemeta")
    PhraseIndex.buildPhraseIndex(docs, dir, n = 3, nBuckets = 8)
    val e1 = intercept[IllegalArgumentException] {
      References.phraseSearch(spark, dir, docs, "the quick brown",
        n = 3, nBuckets = 16)
    }
    assert(e1.getMessage.contains("nBuckets"))
    // the pruned search validates before it touches the doc store
    val e2 = intercept[IllegalArgumentException] {
      PhraseIndex.phraseSearchPruned(spark, dir, s"$dir/no_docs",
        "the quick brown", n = 2, nBuckets = 8)
    }
    assert(e2.getMessage.contains("built with"))
    // matching parameters pass
    assert(References.phraseSearch(spark, dir, docs, "the quick brown",
      n = 3, nBuckets = 8).count() === 1)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("the postings probe reaches the scan as a bucket PARTITION filter") {
    val df = crafted()
    val dir = tmpDir("phraseidx4")
    PhraseIndex.buildPhraseIndex(df, dir)
    val grams = PhraseIndex.phraseGramHashes(spark, "alpha beta gamma", 3)
    val buckets = grams.map(g => ((g % 64) + 64) % 64).distinct
    val probe = spark.read.parquet(s"$dir/grams")
      .filter(col("bucket").isin(buckets: _*))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"), plan)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
