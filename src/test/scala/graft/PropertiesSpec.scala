package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._
import graft.llm.TextOps

/** Property-based invariants (SURVEY.md §5.2 item 4), generated with
  * ScalaCheck `Gen` and exercised over a fixed seed sweep (no
  * scalatestplus bridge in the offline dep set).
  */
class PropertiesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int = 10): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)))

  private val word = Gen.oneOf("a", "b", "cc", "dd", "the", "x1")
  private val text = Gen.listOfN(8, word).map(_.mkString(" "))

  test("explode conservation: sum of |commits| = exploded row count (G1 law)") {
    for (sizes <- samples(Gen.listOfN(5, Gen.choose(0, 7)), 5)) {
      val lines = sizes.zipWithIndex.map { case (n, i) =>
        val cs = (1 to n).map(j => s"""{"sha":"s$i-$j","message":"m"}""")
          .mkString(",")
        s"""{"type":"PushEvent","actor":{"login":"u$i"},"repo":{"name":"r"},"created_at":"2024-02-29T01:00:00Z","payload":{"commits":[$cs]}}"""
      }
      val raw = graft.ingest.Extract.parseRaw(lines.toDF("value"))
      assert(graft.ingest.Extract.commits(raw).count() === sizes.sum.toLong)
    }
  }

  test("decontaminateNgram laws: subset of corpus, idempotent, clean-corpus fixpoint (L9 law)") {
    val longText = Gen.listOfN(12, word).map(_.mkString(" "))
    for (texts <- samples(Gen.listOfN(10, longText), 5)) {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val eval = docs.filter($"doc_id" % 3 === 0)
      // n=4 so the tiny vocabulary actually produces collisions
      val once = TextOps.decontaminateNgram(docs, eval, n = 4)
      val onceIds = once.select("doc_id").as[Long].collect().toSet
      val allIds = docs.select("doc_id").as[Long].collect().toSet
      assert(onceIds.subsetOf(allIds))
      // idempotence: every surviving doc is span-clean, so a second sweep
      // with the same eval set removes nothing
      val twice = TextOps.decontaminateNgram(once, eval, n = 4)
      assert(twice.select("doc_id").as[Long].collect().toSet === onceIds)
      // fixpoint: an empty eval set keeps the corpus whole
      val noEval = TextOps.decontaminateNgram(docs, docs.limit(0), n = 4)
      assert(noEval.select("doc_id").as[Long].collect().toSet === allIds)
    }
  }

  test("dedup idempotence: f(f(x)) = f(x) (L1 law)") {
    for (texts <- samples(Gen.listOfN(12, text), 5)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val once = TextOps.exactDedup(df, $"text", $"id")
      val twice = TextOps.exactDedup(
        once.select($"dedup_key".as("text"), $"keep_id".as("id")),
        $"text", $"id")
      assert(twice.count() === once.count())
    }
  }

  test("jaccard bounds and symmetry (L2 law)") {
    val pairs = samples(Gen.zip(text, text), 10)
    val df = pairs.toDF("x", "y")
      .select(split($"x", " ").as("a"), split($"y", " ").as("b"))
    df.select(TextOps.jaccard($"a", $"b"), TextOps.jaccard($"b", $"a"))
      .as[(Double, Double)].collect().foreach { case (j1, j2) =>
        assert(j1 >= 0.0 && j1 <= 1.0)
        assert(j1 === j2)
      }
  }

  test("ceilHour monotone and within (ts, ts+1h] for non-exact inputs (F6 law)") {
    val tsGen = Gen.choose(0L, 4102444800L).map(s => s * 1000 + 137)
    val millis = samples(tsGen, 20)
    val df = millis.map(m => new java.sql.Timestamp(m)).toDF("ts")
    df.select($"ts", graft.time.Increments.ceilHour($"ts").as("c"))
      .as[(java.sql.Timestamp, java.sql.Timestamp)].collect()
      .foreach { case (t, c) =>
        assert(c.getTime >= t.getTime)
        assert(c.getTime - t.getTime < 3600 * 1000)
        assert(c.getTime % (3600 * 1000) === 0)
      }
  }

  test("redact is idempotent and non-sensitive text is a fixed point (L5 law)") {
    val piiWord = Gen.oneOf("x", "see", "bob.smith+1@corp.co.uk",
      "https://ex.com/a?b=1", "plain", "a@b.io", "http://t.co/q")
    val piiText = Gen.listOfN(6, piiWord).map(_.mkString(" "))
    val df = samples(piiText, 15).toDF("text")
    val once = df.select($"text", TextOps.redact($"text").as("r1"))
    val twice = once.select($"text", $"r1",
      TextOps.redact($"r1").as("r2")).as[(String, String, String)].collect()
    twice.foreach { case (t, r1, r2) =>
      assert(r1 === r2, s"not idempotent on: $t") // placeholders never re-match
      assert(!r1.contains("@") || r1.contains("<EMAIL>") === t.contains("@"))
    }
  }

  test("media round-trip: every generated payload decodes with exact invariants (L4 law)") {
    for (id <- samples(Gen.choose(0L, 1000000L), 10)) {
      val img = graft.llm.Multimodal.decodeImage(id,
        graft.llm.Multimodal.pngBytes(id))
      assert(img.decode_ok && img.width === 16 && img.height === 16)
      val wav = graft.llm.Multimodal.decodeWav(id,
        graft.llm.Multimodal.wavBytes(id))
      assert(wav.decode_ok && wav.duration_ms === 200 && wav.sample_rate === 8000)
      assert(wav.rms > 0) // a sine is never silent
    }
  }

  test("watermark monotonicity: appending newer data never lowers it (T1 law)") {
    val dir = tmpDir("wm_prop_") + "/t"
    def write(h: Int) = Seq(s"2024-02-29 0$h:00:00").toDF("s")
      .select(to_timestamp($"s").as("created_at"))
      .write.mode("append").parquet(dir)
    write(1)
    val w1 = graft.time.Increments.watermark(spark, dir).get
    write(5)
    val w2 = graft.time.Increments.watermark(spark, dir).get
    write(3) // older data arriving late must not lower the watermark
    val w3 = graft.time.Increments.watermark(spark, dir).get
    assert(!w2.before(w1))
    assert(w3 === w2)
  }

  test("packSequences conservation: contiguous offsets, token totals preserved (L13 law)") {
    // random doc lengths + random budgets: the concat-and-split layout must
    // tile the per-partition token stream exactly (no gaps, no overlaps)
    val doc = for {
      part <- Gen.oneOf("p0", "p1")
      n <- Gen.choose(1, 40)
    } yield (part, n)
    for ((rows, budget) <- samples(Gen.listOfN(30, doc), 4)
        .zip(Seq(1L, 7L, 64L, 1000L))) {
      val df = rows.zipWithIndex.map { case ((p, n), i) =>
        (i.toLong, p, (1 to n).map(j => s"t$j").mkString(" ")) }
        .toDF("doc_id", "part", "text")
      val got = TextOps.packSequences(df, budget, Seq("part"), Seq("doc_id"),
          size(split(col("text"), " ")))
        .orderBy("part", "doc_id")
        .select("part", "n_tokens", "seq_id", "seq_offset")
        .as[(String, Long, Long, Long)].collect().toSeq
      for ((_, g) <- got.groupBy(_._1)) {
        val starts = g.map(t => t._3 * budget + t._4)
        assert(starts.head === 0L, s"budget=$budget")
        assert(starts.zip(g.map(_._2)).zip(starts.drop(1)).forall {
          case ((s, n), s2) => s + n == s2 }, s"budget=$budget")
        assert(g.forall(t => t._4 >= 0 && t._4 < budget), s"budget=$budget")
      }
    }
  }

  test("chunkDedup conservation: kept <= chunks, duplicates drop exactly (L12 law)") {
    // texts drawn from a tiny vocabulary so exact chunk collisions occur
    val shortText = Gen.listOfN(6, Gen.oneOf("u", "v")).map(_.mkString(" "))
    for (texts <- samples(Gen.listOfN(15, shortText), 5)) {
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val got = TextOps.chunkDedup(df, chunkSize = 3)
        .select("doc_id", "n_chunks", "n_kept")
        .as[(Long, Long, Long)].collect()
      assert(got.forall(r => r._3 >= 0 && r._3 <= r._2))
      // global law: kept chunks = distinct chunk contents corpus-wide
      val distinctChunks = TextOps.chunkWords(df, 3, 3)
        .select("chunk").distinct().count()
      assert(got.map(_._3).sum === distinctChunks)
    }
  }

  test("top-k-per-key ≡ window row_number on arbitrary data (O3 law)") {
    // duplicate-heavy values force tie-break correctness; tiny/huge k and
    // skewed key distributions probe the heap admission logic
    val row = for {
      key <- Gen.oneOf("a", "b", "c", "hot", "hot", "hot")
      v <- Gen.choose(0, 9) // heavy ties
      id <- Gen.choose(0L, Long.MaxValue)
    } yield (key, v, id)
    for ((rows, k) <- samples(Gen.listOfN(60, row), 4)
        .zip(Seq(1, 2, 7, 100))) {
      val df = rows.toDF("key", "v", "id").dropDuplicates("id")
      val ord = Seq(col("v").desc, col("id").asc)
      val ours = graft.plans.TopK.perKey(df, Seq("key"), ord, k)
        .orderBy(col("key"), col("v").desc, col("id"))
        .as[(String, Int, Long)].collect().toSeq
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("key").orderBy(ord: _*)
      val ref = df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= k).drop("_rn")
        .orderBy(col("key"), col("v").desc, col("id"))
        .as[(String, Int, Long)].collect().toSeq
      assert(ours === ref, s"k=$k")
    }
  }

  test("skyline ≡ brute-force strict dominance on arbitrary points (O∅s law)") {
    // duplicates, negatives, collinear ties, and every bucket count —
    // generalizes SkylineSpec's fixed fixtures; the two-phase sweep and
    // the grid pruning must be invisible at every B
    val pt = for {
      x <- Gen.choose(-50, 50)
      y <- Gen.choose(-50, 50)
    } yield (x.toDouble, y.toDouble)
    for (((pts0, b), i) <- samples(Gen.listOfN(80, pt), 6)
        .zip(Seq(2, 3, 8, 16, 32, 64)).zipWithIndex) {
      val pts = pts0.zipWithIndex.map { case ((x, y), j) => (j.toLong, x, y) }
      val got = graft.query.Skyline.skyline(
          pts.toDF("id", "x", "y").repartition(3 + i), $"x", $"y", buckets = b)
        .select("id").as[Long].collect().toSet
      val want = pts.filter { case (_, x, y) =>
        !pts.exists { case (_, ox, oy) => ox > x && oy > y }
      }.map(_._1).toSet
      assert(got === want, s"buckets=$b run=$i")
    }
  }

  test("dedupClusters ≡ union-find components on arbitrary pair sets (L2 law)") {
    val pair = for {
      a <- Gen.choose(0L, 24L)
      b <- Gen.choose(0L, 24L) if a != b
    } yield (a, b)
    for (pairs <- samples(Gen.listOfN(20, pair), 5) if pairs.nonEmpty) {
      // driver-side union-find reference
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = parent.keys.map(x => x -> find(x)).toMap
      val got = TextOps.dedupClusters(pairs.toDF("id_a", "id_b"))
        .select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
      assert(got.keySet === want.keySet)
      // same partition AND the same representative (min id per component)
      got.foreach { case (id, c) => assert(c === want(id), s"node $id") }
    }
  }

  test("skew caps only lose recall, never invent drops (L21/L22 cap law)") {
    // capped semanticDedup's dropped set must be a subset of uncapped's,
    // and capped knnGraph's edges a subset of the uncapped candidates'
    // neighbor universe — the cap is purely a candidate-set restriction
    val vec = Gen.listOfN(4, Gen.choose(-10, 10)).map(_.map(_.toDouble))
    for ((vs, i) <- samples(Gen.listOfN(14, vec), 3).zipWithIndex) {
      val df = vs.zipWithIndex
        .map { case (v, j) => (j.toLong, v.map(x => x + 0.001 * j)) }
        .toDF("vec_id", "v")
      def dropped(cap: Int) = graft.llm.Clustering
        .semanticDedup(df, k = 3, iters = 2, cosThreshold = 0.98,
          maxCluster = cap)
        .filter(!col("keep")).select("vec_id").as[Long].collect().toSet
      val un = dropped(0)
      val capped = dropped(4)
      assert(capped.subsetOf(un), s"run=$i capped=$capped uncapped=$un")
    }
  }

  test("topNgramFrac bounds: 1/(n-1) <= frac <= 1; 1 iff one bigram repeats") {
    for ((words, i) <- samples(Gen.choose(2, 12).flatMap(n =>
        Gen.listOfN(n, word)), 8).zipWithIndex) {
      val df = Seq((i.toLong, words.mkString(" "))).toDF("doc_id", "text")
      val frac = TextOps.topNgramFrac(df).as[(Long, Double)].head()._2
      val nBi = words.length - 1
      // the mode's share of nBi occurrences: at least 1/nBi, at most all
      assert(frac >= math.rint(1.0 / nBi * 10000) / 10000 - 1e-9)
      assert(frac <= 1.0)
      val bigrams = words.sliding(2).map(_.mkString(" ")).toSeq
      val allSame = bigrams.distinct.size == 1
      assert((frac == 1.0) === allSame, s"words=$words")
      // reference recomputation: exact mode share
      val expect = bigrams.groupBy(identity).values.map(_.size).max.toDouble / nBi
      assert(frac === math.rint(expect * 10000) / 10000, s"words=$words")
    }
  }

  test("containment bounds: jaccard <= containment <= 1 on arbitrary pair " +
    "sets; superset pairs hit exactly 1 (L2c law)") {
    for ((docs, i) <- samples(Gen.listOfN(4, Gen.listOfN(8, word)), 6)
        .zipWithIndex) {
      val df = docs.zipWithIndex
        .map { case (ws, j) => (j.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val pairs = TextOps.containmentPairs(df, threshold = 0.0)
        .as[(Long, Long, Double)].collect()
      // reference: string shingle sets on the driver
      def sh(ws: Seq[String]) = ws.sliding(3).map(_.mkString(" ")).toSet
      val sets = docs.map(sh).toIndexedSeq
      pairs.foreach { case (a, b, c) =>
        val (sa, sb) = (sets(a.toInt), sets(b.toInt))
        val inter = (sa & sb).size.toDouble
        val jac = inter / (sa | sb).size
        val expect = inter / math.min(sa.size, sb.size)
        assert(c === math.rint(expect * 10000) / 10000, s"run=$i pair=($a,$b)")
        assert(c >= math.rint(jac * 10000) / 10000 - 1e-9)
        assert(c <= 1.0 + 1e-9)
        if (sa.subsetOf(sb) || sb.subsetOf(sa)) assert(c === 1.0)
      }
    }
  }

  test("label propagation: converged labels are a fixed point; every label " +
    "is a member node (G3 law)") {
    // two disjoint cliques converge by round 2; further rounds must not
    // move any label (the sync update is a fixed point on cliques)
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val pairs = (clique(Seq(1L, 2L, 3L)) ++ clique(Seq(7L, 8L, 9L)))
      .toDF("u", "v")
    val r2 = graft.query.Graph.labelPropagation(pairs, 2)
      .as[(Long, Long)].collect().toMap
    val r4 = graft.query.Graph.labelPropagation(pairs, 4)
      .as[(Long, Long)].collect().toMap
    assert(r2 == r4, s"converged labels moved: $r2 vs $r4")
    // closure: a community label is always one of its members' ids
    val nodes = r2.keySet
    assert(r2.values.forall(nodes.contains), r2.toString)
  }

  test("freq sketch bounds bracket exact counts for EVERY item on " +
    "arbitrary streams, any partitioning (A7f law)") {
    graft.functions.SqlFunctions.register(spark)
    for ((items, i) <- samples(
        Gen.listOfN(60, Gen.oneOf("p", "q", "r", "s", "t")), 6).zipWithIndex) {
      val df = items.toDF("w").repartition(1 + i % 4)
      val sk = df.agg(expr("graft_freq_agg(w, 8)").as("sk"))
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      exact.foreach { case (item, n) =>
        val b = sk.select(graft.functions.SketchAggs
            .freqBounds(col("sk"), lit(item)).as("b"))
          .selectExpr("b.lb", "b.ub").as[(Long, Long)].head()
        assert(b._1 <= n && n <= b._2, s"run=$i item=$item n=$n bounds=$b")
      }
    }
  }

  test("negativeSample: output is a function of (corpus, anchors, k) alone " +
    "— partitioning never changes the draw (L33 law)") {
    val emb = graft.query.Tables(spark, sf("sf0.001"), "embeddings")
      .limit(80).localCheckpoint()
    val anchors = emb.filter(col("vec_id") < 2)
    def draw(parts: Int) = graft.llm.VectorOps
      .negativeSample(emb.repartition(parts), anchors, k = 5)
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._3))
    assert(draw(2).toSeq == draw(7).toSeq)
    org.apache.spark.sql.graft.ColumnBridge.releaseLocalCheckpoint(emb)
  }
}
