package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class RetrievalSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def fixtureDocs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown cat sleeps on the warm mat"),
    (2L, "a slow green turtle walks under the old bridge"),
    (3L, "quick quick quick repetition inflates term frequency here"),
    (4L, "entirely disjoint vocabulary zone alpha beta gamma delta"),
    (5L, "the lazy dog naps beside the quick brown fox")
  ).toDF("doc_id", "text")

  test("bm25Stored == bm25 bit-for-bit (drift guard): same scores, same " +
    "ranks, through the bucket-pruned 8-byte-hash probe path") {
    val docs = fixtureDocs
    val queries = docs.filter($"doc_id".isin(0L, 3L, 4L))
      .select($"doc_id".as("query_id"),
        array_distinct(split($"text", " ")).as("terms"))
    val dir = tmpDir("bm25idx")
    Retrieval.buildBm25Index(docs, dir, nBuckets = 8)
    val adhoc = Retrieval.bm25(docs, queries, k = 5)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    val stored = Retrieval.bm25Stored(spark, dir, queries, k = 5, nBuckets = 8)
      .orderBy("query_id", "rank")
      .as[(Long, Long, Double, Long)].collect().toSeq
    assert(stored === adhoc)
    assert(adhoc.nonEmpty)
    // the disjoint-vocabulary query matches only itself
    val q4 = adhoc.filter(_._1 == 4L)
    assert(q4.map(_._2) === Seq(4L))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("bm25Stored: unseen query terms score zero everywhere (absent from " +
    "the index == absent from the corpus), seen terms unaffected") {
    val docs = fixtureDocs
    val dir = tmpDir("bm25idx2")
    Retrieval.buildBm25Index(docs, dir, nBuckets = 8)
    // a query mixing one corpus term with terms the corpus never saw
    val q = Seq((7L, Seq("turtle", "zzz_never_seen", "qqq_unknown")))
      .toDF("query_id", "terms")
    val got = Retrieval.bm25Stored(spark, dir, q, k = 5, nBuckets = 8)
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSeq
    // only doc 2 holds "turtle"; the unknown terms contribute nothing
    assert(got === Seq((7L, 2L)))
    // equality with the ad-hoc form holds under unknown terms too
    val adhoc = Retrieval.bm25(docs, q, k = 5)
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSeq
    assert(adhoc === got)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("bm25Stored plan: the postings scan carries the bucket partition " +
    "filter — only the query terms' buckets are read") {
    val docs = fixtureDocs
    val dir = tmpDir("bm25idx3")
    Retrieval.buildBm25Index(docs, dir, nBuckets = 8)
    val q = Seq((0L, Seq("turtle"))).toDF("query_id", "terms")
    val plan = Retrieval.bm25Stored(spark, dir, q, k = 5, nBuckets = 8)
      .queryExecution.executedPlan.toString
    // a NON-EMPTY PartitionFilters list naming bucket (the probe may cast
    // the int partition column to match the long hash literals)
    val re = """PartitionFilters: \[[^\]]*bucket""".r
    assert(re.findFirstIn(plan).isDefined,
      s"expected a bucket partition filter on the postings scan in:\n$plan")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }
}
