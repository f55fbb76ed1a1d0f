package graft.llm

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Laws for the DSIR selector beyond the q_dsir_select oracle (which pins
  * the exact-feature top-k cross-engine): the counting kernel's parity
  * with its HOF reference, and the hashed-bucket production form's
  * agreement with the exact form.
  */
class DsirSpec extends AnyFunSuite with SparkFixture {

  private val docs =
    graft.query.Tables(spark, "/root/testdata/sf0.001", "documents")
  private val isTarget = col("source") === "src0"

  test("counting kernel == HOF explode+groupBy reference, both key modes") {
    // the r12 row-local UnibiCounts kernel replaced the explode-union +
    // groupBy(doc_id, f).count() pipeline; DSIR weights feed oracle-hashed
    // selection, so the two featurizers must never drift — pin exact
    // (string) and hashed (bucketed xxhash64) modes on the fixture corpus
    for (buckets <- Seq(0, 4096)) {
      val kernel = docs.select(col("doc_id"),
          explode(graft.functions.UnibiCounts
            .unibiCounts(col("text"), buckets)).as(Seq("f", "c")))
        .orderBy("doc_id", "f").collect().toSeq
      val reference = References.featuresReference(docs, buckets)
        .groupBy("doc_id", "f").agg(count(lit(1)).as("c"))
        .orderBy("doc_id", "f").collect().toSeq
      assert(kernel === reference, s"buckets=$buckets")
    }
  }

  test("hashed-bucket form tracks the exact-feature form") {
    def top(hashBuckets: Int): Set[Long] =
      Dsir.importanceWeights(docs, isTarget, hashBuckets)
        .orderBy(col("logw").desc, col("doc_id").asc).limit(20)
        .collect().map(_.getLong(0)).toSet
    val exact = top(0)
    val hashed = top(4096)
    val overlap = (exact & hashed).size
    info(s"top-20 overlap exact vs 4096-bucket: $overlap")
    // bucket collisions perturb individual weights; agreement collapsing
    // below half would mean the hashing is broken, not merely noisy
    assert(overlap >= 10)
  }
}
