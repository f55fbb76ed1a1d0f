package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture

/** Pins the native signature expressions to the HOF reference forms they
  * replaced. MinHashSig VALUE equality is load-bearing: signatures are
  * stored dedup state, so the native expression must reproduce the
  * original `xxhash64(h, i)` min-fold bit-for-bit or stored history
  * becomes unreadable. SignBandKeys only needs bucket-membership parity
  * (same sign bits), pinned against the `when(dot >= 0)` reference.
  */
class SignatureExpressionsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("MinHashSig matches the HOF xxhash64 min-fold bit-for-bit") {
    val df = Seq(
      (1L, Seq(7L, -3L, 42L, Long.MaxValue, Long.MinValue)),
      (2L, Seq(0L)),
      (3L, Seq(123456789L, 987654321L, -1L))
    ).toDF("id", "hs")
    val nPerm = 64
    val hof = transform(sequence(lit(0), lit(nPerm - 1)),
      i => array_min(transform(col("hs"), h => xxhash64(h, i))))
    val rows = df.select(
      GraftFunctions.minhashSigNative(col("hs"), nPerm).as("native"),
      hof.as("ref"))
      .as[(Seq[Long], Seq[Long])].collect()
    rows.foreach { case (n, r) => assert(n === r) }
  }

  test("MinHashSig null semantics match the HOF: null -> null, empty -> all-null components") {
    val df = Seq(
      (1L, Some(Seq.empty[Long])),
      (2L, None: Option[Seq[Long]])
    ).toDF("id", "hs")
    val got = df.select(col("id"),
      GraftFunctions.minhashSigNative(col("hs"), 4).as("sig"))
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) null else r.getSeq[Any](1)))
      .toMap
    assert(got(2L) == null)
    assert(got(1L) === Seq(null, null, null, null))
  }

  test("SimHash64 matches the nested-HOF majority-vote reference bit-for-bit") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b"),
      (3L, "solo"),
      (4L, "")
    ).toDF("id", "text")
    val tokenHashes =
      "transform(array_distinct(split(text, ' ')), w -> xxhash64(w))"
    val counters =
      s"""aggregate($tokenHashes, array_repeat(0L, 64),
         |  (acc, h) -> zip_with(acc, sequence(0, 63),
         |    (a, i) -> a + if((shiftright(h, i) & 1) = 1, 1L, -1L)))""".stripMargin
    val ref =
      s"""aggregate(zip_with($counters, sequence(0, 63),
         |  (c, i) -> if(c > 0, shiftleft(1L, i), 0L)),
         |  0L, (a, x) -> a + x)""".stripMargin
    val rows = df.select(
      GraftFunctions.simhash64Native(expr(tokenHashes)).as("native"),
      expr(ref).as("ref"))
      .as[(Long, Long)].collect()
    rows.foreach { case (n, r) => assert(n === r) }
  }

  test("SimHash64 null semantics: null array -> null, empty -> 0, null element votes -1") {
    val df = Seq(
      (1L, Some(Seq.empty[Long])),
      (2L, None: Option[Seq[Long]]),
      (3L, Some(Seq[Long](-1L))),           // all bits set -> all counters +1
      (4L, Some(Seq[Long](0L)))             // no bits set -> all counters -1
    ).toDF("id", "hs")
    val got = df.select(col("id"),
      GraftFunctions.simhash64Native(col("hs")).as("sim"))
      .collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toMap
    assert(got(1L) === Some(0L))
    assert(got(2L) === None)
    assert(got(3L) === Some(-1L))
    assert(got(4L) === Some(0L))
  }

  test("SignBandKeys bits match the when(dot >= 0) reference and pack per band") {
    val dim = 8
    val nBands = 4
    val bpb = 6
    val df = Seq(
      (1L, (0 until dim).map(i => math.sin(i * 1.7) * 3)),
      (2L, (0 until dim).map(i => -1.0 + 0.3 * i)),
      (3L, Seq.fill(dim)(0.0))
    ).toDF("id", "v")
    val planes = (0 until nBands * bpb).map(j =>
      typedLit((0 until dim).map(k => SignBandKeys.planeComponent(j, k))))
    val refBits = (0 until nBands * bpb).map(j =>
      when(GraftFunctions.dotNative(col("v"), planes(j)) >= 0, 1L)
        .otherwise(0L))
    val rows = df.select(col("id"),
      GraftFunctions.signBandKeys(col("v"), nBands, bpb, dim).as("keys"),
      array(refBits: _*).as("bits"))
      .as[(Long, Seq[Long], Seq[Long])].collect()
    rows.foreach { case (id, keys, bits) =>
      assert(keys.length === nBands, s"id=$id")
      val refKeys = (0 until nBands).map { b =>
        (0 until bpb).foldLeft(0L)((acc, i) =>
          acc | (bits(b * bpb + i) << i))
      }
      assert(keys === refKeys, s"id=$id")
    }
    // zero vector: dot = 0 >= 0, so every bit set
    val zero = rows.find(_._1 == 3L).get._2
    assert(zero === Seq.fill(nBands)((1L << bpb) - 1))
  }

  test("NgramHashes matches the HOF zip_with fold bit-for-bit (incl. edge shapes)") {
    val rnd = new scala.util.Random(20260814L)
    val alphabet = Vector("alpha", "beta", "gamma", "δélta", "ε", "", "x",
      "longer-token-with-punct!", "多字节词")
    val randomDocs = (1 to 60).map { _ =>
      (0 until rnd.nextInt(14)).map(_ => alphabet(rnd.nextInt(alphabet.size)))
        .mkString(" ")
    }
    val edges = Seq("", " ", "  ", "a", "a b", " leading", "trailing ",
      "double  space inside", "exactly three words",
      (1 to 30).map(i => s"w$i").mkString(" "))
    val df = (randomDocs ++ edges).toDF("text")
    for (n <- Seq(1, 2, 3, 8)) {
      val rows = df.select(
        graft.llm.TextOps.ngramHashes(col("text"), n).as("native"),
        graft.llm.References.ngramHashesHof(col("text"), n).as("ref"))
        .as[(Seq[Long], Seq[Long])].collect()
      rows.foreach { case (nat, ref) => assert(nat === ref, s"n=$n") }
    }
  }

  test("ShingleHashes matches the HOF slice-chain + array_distinct bit-for-bit, order included") {
    val rnd = new scala.util.Random(20260814L)
    val alphabet = Vector("alpha", "beta", "gamma", "δélta", "ε", "", "x",
      "repeat", "repeat", "多字节词")
    val randomDocs = (1 to 60).map { _ =>
      (0 until rnd.nextInt(14)).map(_ => alphabet(rnd.nextInt(alphabet.size)))
        .mkString(" ")
    }
    // heavy-repetition docs exercise the dedup path (same window recurs)
    val edges = Seq("", " ", "a", "a b c", "r r r r r r r r",
      "a b a b a b a b a b", "exactly three words",
      (1 to 30).map(i => s"w${i % 5}").mkString(" "))
    val df = (randomDocs ++ edges).toDF("text")
    for (n <- Seq(1, 2, 3)) {
      val wh = transform(split(col("text"), " "), w => xxhash64(w))
      val ref = when(size(wh) >= n,
        array_distinct(transform(sequence(lit(1), size(wh) - (n - 1)),
          i => xxhash64(slice(wh, i, lit(n))))))
        .otherwise(array().cast("array<bigint>"))
      val rows = df.select(
        GraftFunctions.shingleHashesNative(col("text"), n).as("native"),
        ref.as("ref"))
        .as[(Seq[Long], Seq[Long])].collect()
      rows.foreach { case (nat, r) => assert(nat === r, s"n=$n") }
    }
  }

  test("NgramHashes null semantics match the HOF: null text -> null") {
    val df = Seq(Some("a b c"), None).toDF("text")
    val got = df.select(
      graft.llm.TextOps.ngramHashes(col("text"), 2).as("native"),
      graft.llm.References.ngramHashesHof(col("text"), 2).as("ref"))
      .collect()
    got.foreach { r => assert(r.isNullAt(0) === r.isNullAt(1)) }
    assert(got.count(_.isNullAt(0)) === 1)
  }

  test("SignBandKeys handles vectors shorter and longer than dim (prefix fold)") {
    val df = Seq(
      (1L, Seq(1.0, 2.0)),           // shorter than dim=4
      (2L, Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0)) // longer
    ).toDF("id", "v")
    // must not throw; keys derived from the overlapping prefix
    val got = df.select(
        GraftFunctions.signBandKeys(col("v"), 2, 4, 4).as("keys"))
      .as[Seq[Long]].collect()
    assert(got.forall(_.length == 2))
  }
}
