package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

class SamplingSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("stratifiedTake: exactly k per stratum, stable, honors the order key") {
    val df = (1L to 100L).map(i => (i, if (i % 2 == 0) "even" else "odd"))
      .toDF("id", "parity")
    val got = Sampling.stratifiedTake(df, "parity", col("id"), 3)
      .select("parity", "id").as[(String, Long)].collect().toSet
    // order by id -> the 3 lowest ids of each stratum
    assert(got === Set(("odd", 1L), ("odd", 3L), ("odd", 5L),
      ("even", 2L), ("even", 4L), ("even", 6L)))
    // strata smaller than k return all their rows, no padding
    val tiny = Seq((1L, "a"), (2L, "b")).toDF("id", "parity")
    assert(Sampling.stratifiedTake(tiny, "parity", col("id"), 5).count() === 2)
    // a DESCENDING order key (the top-k-per-stratum curation use) must be
    // honored, not re-wrapped into ascending
    val top = Sampling.stratifiedTake(df, "parity", col("id").desc, 2)
      .select("parity", "id").as[(String, Long)].collect().toSet
    assert(top === Set(("even", 100L), ("even", 98L),
      ("odd", 99L), ("odd", 97L)))
  }

  test("temperatureMix: alpha=1 is the natural distribution, alpha=0 is " +
    "uniform-over-sources, lower alpha boosts the tail share; quotas cap " +
    "kept counts and reruns are bit-identical") {
    // a head source 8x the tail: 8000 / 1000 / 1000 docs
    val df = (1L to 10000L)
      .map(i => (i, if (i <= 8000) "head" else if (i <= 9000) "mid" else "tail"))
      .toDF("doc_id", "source")
    def run(alpha: Double) = Sampling.temperatureMix(df, budget = 1000, alpha)
      .select("source", "n_avail", "quota", "n_kept", "id_sum")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    val nat = run(1.0)
    // alpha = 1: quota proportional to n -> head gets 800, mid/tail 100
    assert(nat("head")._3 === 800L && nat("mid")._3 === 100L
      && nat("tail")._3 === 100L, nat.toString)
    val uni = run(0.0)
    // alpha = 0: pow(n,0)=1 -> equal thirds (floor of 333.333)
    assert(uni("head")._3 === 333L && uni("tail")._3 === 333L, uni.toString)
    val damped = run(0.5)
    // in between: head share damped below natural, tail boosted above it
    assert(damped("head")._3 < nat("head")._3)
    assert(damped("tail")._3 > nat("tail")._3)
    // kept never exceeds quota or availability; here quota < n_avail so ==
    for ((_, (_, nAvail, quota, kept, _)) <- damped)
      assert(kept === math.min(quota, nAvail))
    // a genuinely tail-short source contributes all it has, no padding
    val short = df.filter(col("source") =!= "tail")
      .union(Seq((9999L, "tail"), (10000L, "tail")).toDF("doc_id", "source"))
    val sm = Sampling.temperatureMix(short, budget = 1000, alpha = 0.0)
      .select("source", "n_kept").as[(String, Long)].collect().toMap
    assert(sm("tail") === 2L)
    // determinism: identical selected sets (id_sum checksum) across runs
    assert(run(0.5).toSeq.sortBy(_._1) === damped.toSeq.sortBy(_._1))
  }

  test("epochMix: emits exactly quota rows per source; upsampled sources " +
    "repeat docs across contiguous epochs 1..reps; downsampled sources " +
    "never repeat; deterministic across reruns") {
    val df = (1L to 1000L)
      .map(i => (i, if (i <= 900) "head" else "tail")).toDF("doc_id", "source")
    // alpha=0 -> each source gets floor(2000 * 0.5) = 1000:
    // head (900 docs) upsamples, tail (100 docs) upsamples 10 epochs
    val out = Sampling.epochMix(df, budget = 2000, alpha = 0.0)
      .select("doc_id", "source", "epoch").as[(Long, String, Long)].collect()
    val bySrc = out.groupBy(_._2)
    assert(bySrc("head").length === 1000 && bySrc("tail").length === 1000)
    // every tail doc appears exactly 10 times, epochs exactly 1..10
    for ((_, rows) <- bySrc("tail").groupBy(_._1))
      assert(rows.map(_._3).sorted.toSeq === (1L to 10L))
    // head: 900 docs, quota 1000 -> 100 docs twice, 800 once; epochs
    // contiguous from 1 for every doc
    val headReps = bySrc("head").groupBy(_._1).map(_._2.length)
    assert(headReps.count(_ == 2) * 2 + headReps.count(_ == 1) === 1000)
    for ((_, rows) <- bySrc("head").groupBy(_._1))
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length))
    // a big corpus under a small budget downsamples: no doc repeats
    val down = Sampling.epochMix(df, budget = 100, alpha = 0.0)
      .select("doc_id", "epoch").as[(Long, Long)].collect()
    assert(down.length === 100 && down.forall(_._2 == 1L))
    // determinism
    val out2 = Sampling.epochMix(df, budget = 2000, alpha = 0.0)
      .select("doc_id", "source", "epoch").as[(Long, String, Long)].collect()
    assert(out.sortBy(r => (r._1, r._3)).toSeq
      === out2.sortBy(r => (r._1, r._3)).toSeq)
  }
}
