package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{PlanAsserts, SparkFixture}

class TextOpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("shingles: n-grams, distinct, short-doc guard") {
    val df = Seq("a b c d", "a b", "x x x x").toDF("text")
    val got = df.select(References.shingles($"text", 3)).as[Seq[String]]
      .collect().toSeq
    assert(got(0) === Seq("a b c", "b c d"))
    assert(got(1) === Seq.empty)           // < n words -> empty, not crash
    assert(got(2) === Seq("x x x"))        // distinct collapses repeats
  }

  test("shingleHashes: cardinality matches string shingles; short docs drop") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x x x x"), (4L, "a b c d"))
      .toDF("doc_id", "text")
    val hs = TextOps.shingleHashes(df, Seq("doc_id"), 3)
      .select($"doc_id", size($"hs").as("n"), $"hs")
      .collect().map(r => r.getLong(0) -> r).toMap
    // doc 2 (< n words) dropped entirely
    assert(hs.keySet === Set(1L, 3L, 4L))
    // per-doc distinct hash count == distinct string-shingle count
    assert(hs(1L).getInt(1) === 2)  // "a b c", "b c d"
    assert(hs(3L).getInt(1) === 1)  // "x x x" repeated -> distinct
    // same text -> same hash set (deterministic, content-only)
    assert(hs(1L).getSeq[Long](2) === hs(4L).getSeq[Long](2))
  }

  test("dedupClusters: transitive closure over pair chains; keep = min id") {
    // chain 1-2-3 (1 and 3 never paired directly), isolated pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val got = TextOps.dedupClusters(pairs)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got === Array(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
  }

  test("dedupClusters: 64-node chain resolves within the round budget (pointer doubling)") {
    // path graph 0-1-...-63: plain neighbor propagation needs 62 rounds and
    // maxIter=10 would cut it off mid-converge with WRONG labels; pointer
    // doubling reaches 2^r nodes per round, so 10 rounds are plenty
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = TextOps.dedupClusters(chain, maxIter = 10)
      .select("cluster_id").distinct().as[Long].collect().toSeq
    assert(got === Seq(0L)) // one component, labeled by its min id
  }

  test("jaccard: identity 1.0, disjoint 0.0, half overlap") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a"), Seq("b")),
      (Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val got = df.select(TextOps.jaccard($"x", $"y")).as[Double].collect()
    assert(got(0) === 1.0)
    assert(got(1) === 0.0)
    assert(got(2) === 0.5)
  }

  test("redact scrubs emails and URLs, leaves clean text untouched (L5)") {
    val df = Seq(
      (1L, "contact bob.smith+x@corp-mail.co.uk for details"),
      (2L, "see https://example.com/a?b=1 and http://t.co/xyz now"),
      (3L, "nothing sensitive here")).toDF("doc_id", "text")
    val got = df.select($"doc_id", TextOps.redact($"text").as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) === "contact <EMAIL> for details")
    assert(got(2L) === "see <URL> and <URL> now")
    assert(got(3L) === "nothing sensitive here")
  }

  test("exactDedup keeps min id and counts copies; idempotent (L1)") {
    val df = Seq((1L, "dup"), (2L, "dup"), (3L, "uniq")).toDF("id", "text")
    val d1 = TextOps.exactDedup(df, $"text", $"id")
    val rows = d1.orderBy("keep_id")
      .as[(String, Long, Long)].collect().toSeq
    assert(rows === Seq(("dup", 1L, 2L), ("uniq", 3L, 1L)))
    // idempotence: dedup of the deduped set changes nothing
    val d2 = TextOps.exactDedup(
      d1.select($"dedup_key".as("text"), $"keep_id".as("id")),
      $"text", $"id")
    assert(d2.count() === d1.count())
    assert(d2.agg(max("n_copies")).head().getLong(0) === 1L)
  }

  test("simhash: identical text -> identical hash; disjoint text differs") {
    val df = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),
      (3L, "zeta eta theta iota")).toDF("id", "text")
    val h = df.select($"id", TextOps.simhash64("text").as("h"))
      .as[(Long, Long)].collect().toMap
    assert(h(1L) === h(2L))
    assert(h(1L) !== h(3L))
  }

  test("simhash: near-dup text has small hamming distance") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = base + " extra"
    val other = (100 to 140).map(i => s"v$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("id", "text")
    val h = df.select($"id", TextOps.simhash64("text").as("h"))
      .as[(Long, Long)].collect().toMap
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(h(1L), h(2L)) < hamming(h(1L), h(3L)))
    assert(hamming(h(1L), h(2L)) <= 8)
  }

  test("fingerprint is order-sensitive (unlike set signatures)") {
    val df = Seq((1L, "a b c"), (2L, "c b a"), (3L, "a b c")).toDF("id", "text")
    val f = df.select($"id", TextOps.fingerprint($"text").as("f"))
      .as[(Long, Long)].collect().toMap
    assert(f(1L) === f(3L))
    assert(f(1L) !== f(2L))
  }

  test("MinHashUnionAgg: group signature = elementwise min; contamination ranks overlap") {
    val sharedA = "one two three four five six seven eight nine ten eleven twelve"
    val docs = Seq(
      ("s1", sharedA), ("s1", "alpha beta gamma delta epsilon zeta eta theta"),
      ("s2", sharedA),                          // s2 shares a whole doc with s1
      ("s3", "totally different content nothing shared here at all everywhere")
    ).toDF("source", "text")
    val got = TextOps.sourceContaminationChecked(spark, docs)
      .as[(String, String, Double, Boolean)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(got(("s1", "s2"))._3 > got(("s1", "s3"))._3)
    assert(got(("s1", "s2"))._3 > 0.3)   // shared doc drives union overlap
    assert(got(("s2", "s3"))._3 < 0.2)
    // the signature estimate lands within tolerance of the exact Jaccard
    assert(got.values.forall(_._4), got.toString)
    // drift guard: the codegen'd single-hash-signature path the estimate
    // runs on must reproduce the typed MinHashUnionAgg union of
    // per-doc sigColumn signatures BIT FOR BIT (min is associative —
    // same set, same mins; any perm/seed drift flips a component)
    val hsDf = TextOps.shingleHashes(docs, Seq("source"), 3)
    val viaAgg = hsDf
      .select($"source", VectorOps.sigColumn($"hs", 64).as("sig"))
      .as[(String, Seq[Long])]
      .groupByKey(_._1)
      .agg(new MinHashUnionAgg(64).toColumn.name("sig"))
      .collect().toMap
    val viaCodegen = TextOps.perSourceSig(
        hsDf.select($"source", explode($"hs").as("h")).distinct(), 64)
      .as[(String, Long, Seq[Long])].collect()
      .map(r => r._1 -> r._3).toMap
    assert(viaCodegen.keySet === viaAgg.keySet)
    viaAgg.foreach { case (s, sig) =>
      assert(viaCodegen(s) === sig.toSeq, s"signature drift for source $s")
    }
  }

  test("decontaminateNgram drops span leakage that exact-match misses, keeps short docs") {
    val evalDoc = (1 to 20).map(i => s"e$i").mkString(" ")
    val docs = Seq(
      (0L, evalDoc),                                       // the eval doc itself
      (1L, "prefix words then " + (5 to 12).map(i => s"e$i").mkString(" ")), // 8-word span copied
      (2L, (1 to 20).map(i => s"c$i").mkString(" ")),      // clean
      (3L, "e1 e2 e3 tiny")                                // <8 words: kept
    ).toDF("doc_id", "text")
    val kept = TextOps.decontaminateNgram(docs, docs.filter($"doc_id" === 0L))
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(2L, 3L))
    // exact-match decontamination would have kept doc 1 (not byte-identical)
    val exactKept = TextOps.decontaminate(docs, docs.filter($"doc_id" === 0L), "text")
      .select("doc_id").as[Long].collect().toSet
    assert(exactKept.contains(1L))
    // the audit view names the leaking pair and counts its shared spans:
    // doc 1 embeds e5..e12 -> exactly one distinct 8-gram in common
    val report = TextOps.contaminationReport(docs,
      docs.filter($"doc_id" === 0L), excludeSelfPairs = true)
      .as[(Long, Long, Long)].collect().toSet
    assert(report === Set((1L, 0L, 1L)))
  }

  test("contaminationReport: disjoint id spaces report every pair; self-pair opt-in") {
    val span = (5 to 12).map(i => s"e$i").mkString(" ")
    val corpus = Seq(
      (7L, "prefix words then " + span),          // shares a span with eval 7
      (8L, (1 to 20).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    // independently-ingested eval set: id 7 collides with corpus id 7 but
    // names a DIFFERENT document — the pair must still be reported
    val evalSet = Seq((7L, (1 to 20).map(i => s"e$i").mkString(" ")))
      .toDF("doc_id", "text")
    val dflt = TextOps.contaminationReport(corpus, evalSet)
      .as[(Long, Long, Long)].collect().toSet
    assert(dflt === Set((7L, 7L, 1L)))
    // opting into self-pair exclusion on colliding ids hides the pair —
    // the documented reason it is opt-in, not the default
    val excl = TextOps.contaminationReport(corpus, evalSet,
      excludeSelfPairs = true).count()
    assert(excl === 0L)
  }

  test("contaminationReport plan: no corpus-side exchange below the broadcast gram join") {
    val docs = Seq(
      (1L, (1 to 20).map(i => s"w$i").mkString(" ")),
      (2L, (10 to 30).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.contaminationReport(docs, docs.filter($"doc_id" === 1L),
      excludeSelfPairs = true)
    out.collect()
    val stripped = PlanAsserts.stripAQE(out.queryExecution.executedPlan)
    val bhj = PlanAsserts.broadcastHashJoins(stripped)
    assert(bhj.nonEmpty, s"gram probe must be a broadcast hash join:\n$stripped")
    // the corpus (streamed) side must reach the join straight off the scan:
    // a distinct/aggregate there would hash-shuffle the whole corpus gram
    // stream before the broadcast filter discards ~all of it
    bhj.foreach { j =>
      val corpusSide = PlanAsserts.streamedSide(j)
      assert(PlanAsserts.shuffles(corpusSide).isEmpty,
        s"corpus-side exchange below the broadcast join:\n$corpusSide")
    }
  }

  test("decontaminateNgram plan: eval grams broadcast into a semi-join (scale contract)") {
    val docs = Seq((1L, (1 to 20).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextOps.decontaminateNgram(docs, docs)
    out.collect()
    val plan = out.queryExecution.executedPlan.toString
    // the gram probe must be a broadcast semi-join (the corpus side never
    // shuffles by gram, let alone by text)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      s"expected a broadcast semi-join in:\n$plan")
  }

  test("contamination estimate reuses the per-source signature exchange across self-join sides") {
    val docs = Seq(
      ("s1", "one two three four five six seven eight"),
      ("s2", "one two three four nine ten eleven twelve"),
      ("s3", "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("source", "text")
    // the operator materializes its output, so its plan is read off the
    // execution that listeners see (the output frame's own plan is a scan
    // of the checkpoint)
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      TextOps.sourceContaminationChecked(spark, docs).collect()
      org.apache.spark.graft.CoreBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    // the expensive side (64-perm signature pass + per-source min partials)
    // sits below ONE hash exchange; the a×b self-join's second reference must
    // resolve to a ReusedExchange, not a second signature pass
    val joined = plans.synchronized(plans.toList).filter(_.contains("sig_a"))
    assert(joined.nonEmpty, s"no self-join execution captured:\n$plans")
    assert(joined.exists(_.contains("ReusedExchange")),
      s"no exchange reuse in:\n${joined.mkString("\n")}")
  }

  test("minhash LSH finds the planted near-duplicate pair (L2 scale path)") {
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val near = (1 to 48).map(i => s"tok$i").mkString(" ") + " x y"
    val far = (200 to 250).map(i => s"tok$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = References.minhashPairs(docs, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)))
  }

  test("chunkWords: coverage, overlap, short docs, dense chunk ids") {
    val text10 = (1 to 10).map(i => s"w$i").mkString(" ") // 10 words
    val df = Seq((1L, text10), (2L, "a b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val chunks = TextOps.chunkWords(df, chunkSize = 4, stride = 3)
      .select("doc_id", "chunk_id", "chunk", "n_words")
      .as[(Long, Long, String, Long)].collect().sortBy(c => (c._1, c._2))
    val doc1 = chunks.filter(_._1 == 1L)
    // starts 0,3,6 cover all 10 words; last chunk is the short tail
    assert(doc1.map(_._3).toSeq === Seq(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10"))
    assert(doc1.map(_._4).toSeq === Seq(4L, 4L, 4L))
    // consecutive chunks overlap by chunkSize - stride = 1 word
    assert(doc1.sliding(2).forall { case Array(a, b) =>
      a._3.split(" ").last == b._3.split(" ").head })
    // chunk ids dense from 0
    assert(doc1.map(_._2).toSeq === Seq(0L, 1L, 2L))
    // docs shorter than chunkSize yield exactly one (short) chunk
    assert(chunks.filter(_._1 == 2L).toSeq === Seq((2L, 0L, "a b", 2L)))
    assert(chunks.filter(_._1 == 3L).toSeq === Seq((3L, 0L, "solo", 1L)))
    // every word of every doc appears in at least one chunk
    val rebuilt = doc1.flatMap(_._3.split(" ")).toSet
    assert(rebuilt === (1 to 10).map(i => s"w$i").toSet)
  }

  test("chunkWords rejects stride > chunkSize (words would be dropped)") {
    val df = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TextOps.chunkWords(df, chunkSize = 4, stride = 5)
    }
  }

  test("decontaminate removes exact eval matches and keeps everything else") {
    val corpus = (1L to 200L)
      .map(i => (i, if (i % 7 == 0) s"leaked eval item ${i % 3}" else s"clean doc $i"))
      .toDF("doc_id", "text")
    val evalSet = Seq("leaked eval item 0", "leaked eval item 1",
      "leaked eval item 2", "never in corpus").toDF("text")
    val kept = TextOps.decontaminate(corpus, evalSet, "text")
      .select("doc_id").as[Long].collect().toSet
    val expected = (1L to 200L).filter(_ % 7 != 0).toSet
    assert(kept === expected)
    // a corpus with NO real matches must survive intact
    val cleanOnly = corpus.filter(!col("text").startsWith("leaked"))
    val kept2 = TextOps.decontaminate(cleanOnly, evalSet, "text").count()
    assert(kept2 === cleanOnly.count())
  }

  test("qualityRules: repetitive / degenerate docs fail, normal prose passes") {
    // 40 distinct words: varied trigrams, sane word lengths. (A phrase
    // repeated 5x would itself trip the dup-trigram rule — correctly.)
    val normal = (1 to 40).map(i => s"word$i").mkString(" ")
    val repetitive = ("spam " * 60).trim            // one trigram repeated
    val tooShort = "just five little words here"
    val longWords = (Seq.fill(40)("pneumonoultramicroscopicsilicovolcanoconiosis")
      .mkString(" "))                               // mean word len ≈ 45
    val df = Seq((1L, normal), (2L, repetitive), (3L, tooShort),
      (4L, longWords)).toDF("doc_id", "text")
    val got = TextOps.qualityRules(df).orderBy("doc_id")
      .select("doc_id", "keep", "dup_trigram_frac", "n_words")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got(1L).getBoolean(1), "normal prose must pass the gate")
    assert(!got(2L).getBoolean(1) && got(2L).getDouble(2) > 0.9,
      "repeated trigrams must trip the duplicate-trigram rule")
    assert(!got(3L).getBoolean(1), "sub-30-word docs must fail")
    assert(!got(4L).getBoolean(1), "degenerate word lengths must fail")
  }

  test("chunkDedup: repeated paragraph is kept once corpus-wide, first occurrence wins") {
    val para = (1 to 32).map(i => s"w$i").mkString(" ")   // one exact chunk
    val unique1 = (1 to 32).map(i => s"x$i").mkString(" ")
    val unique2 = (1 to 32).map(i => s"y$i").mkString(" ")
    // doc 1 = para + unique1, doc 2 = para + unique2 (chunk 0 collides),
    // doc 3 = para alone (collides again)
    val df = Seq((1L, s"$para $unique1"), (2L, s"$para $unique2"),
      (3L, para)).toDF("doc_id", "text")
    val got = TextOps.chunkDedup(df, chunkSize = 32).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got === Array((1L, 2L, 2L), (2L, 2L, 1L), (3L, 1L, 0L)))
  }

  test("boilerplateRemove: repeated furniture vanishes from EVERY doc, " +
    "unique content survives in order, all-furniture doc goes NULL") {
    val footer = (1 to 8).map(i => s"f$i").mkString(" ")  // one exact segment
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    // footer occurs in docs 1, 2, 3 (>= minDocs=2); a/b are unique
    val df = Seq(
      (1L, s"$footer $a"),   // furniture first: clean = a
      (2L, s"$b $footer"),   // furniture last: clean = b (order preserved)
      (3L, footer)           // pure furniture: clean = NULL
    ).toDF("doc_id", "text")
    val got = TextOps.boilerplateRemove(df, segSize = 8, minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3))))
    assert(got === Array(
      (1L, 2L, 1L, Some(a)),
      (2L, 2L, 1L, Some(b)),
      (3L, 1L, 0L, None)))
  }

  test("boilerplateRemove: below-threshold repeats are kept everywhere") {
    val seg = (1 to 8).map(i => s"s$i").mkString(" ")
    val df = Seq((1L, seg), (2L, (1 to 8).map(i => s"z$i").mkString(" ")))
      .toDF("doc_id", "text")
    // seg appears in only ONE doc < minDocs=2 -> nothing removed
    val got = TextOps.boilerplateRemove(df, 8, 2).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(got.forall { case (_, kept, _) => kept == 1L })
    assert(got.map(_._3).toSet == df.collect().map(_.getString(1)).toSet)
  }

  test("boilerplateRemove: same segment twice WITHIN one doc does not " +
    "cross the distinct-doc threshold") {
    val seg = (1 to 8).map(i => s"r$i").mkString(" ")
    val df = Seq((1L, s"$seg $seg")).toDF("doc_id", "text")
    val got = TextOps.boilerplateRemove(df, 8, 2).collect().head
    assert(got.getLong(1) == 2L && got.getLong(2) == 2L)
    assert(got.getString(3) == s"$seg $seg")
  }

  test("CMS mergeability: per-partition sketches merged == one global " +
    "sketch, and estimates overcount only") {
    val df = (1L to 400L)
      .map(i => (i, if (i % 2 == 0) "srcA" else "srcB",
        s"w${i % 7} w${i % 3} common"))
      .toDF("doc_id", "source", "text")
    val wordsDf = df.select(col("source"),
      explode(split(col("text"), " ")).as("w"))
    val global = wordsDf.stat.countMinSketch("w", 0.001, 0.99, 42)
    val merged = wordsDf.filter(col("source") === "srcA")
      .stat.countMinSketch("w", 0.001, 0.99, 42)
    merged.mergeInPlace(
      wordsDf.filter(col("source") === "srcB")
        .stat.countMinSketch("w", 0.001, 0.99, 42))
    val vocab = (0 until 7).map(j => s"w$j") :+ "common"
    vocab.foreach { w =>
      assert(merged.estimateCount(w) == global.estimateCount(w),
        s"merge changed the estimate for '$w'")
      val exact = wordsDf.filter(col("w") === w).count()
      assert(global.estimateCount(w) >= exact, s"CMS undercounted '$w'")
    }
  }

  test("lmScore: corpus-frequent transitions outscore gibberish; " +
    "bigram accounting is exact; word-less docs drop out") {
    // 10 fluent docs repeat the same transitions; doc 99 uses corpus WORDS
    // in never-seen transitions (the shuffled-text failure mode)
    val fluent = (1L to 10L).map(i => (i, "the quick brown fox jumps"))
    val gibberish = Seq((99L, "jumps the fox quick brown"))
    val short = Seq((100L, "single"))
    val df = (fluent ++ gibberish ++ short).toDF("doc_id", "text")
    val got = TextOps.lmScore(df).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // the 1-word doc has no transitions and is absent
    assert(got.map(_._1) == (1L to 10L) :+ 99L)
    // every 5-word doc contributes exactly 4 bigrams
    assert(got.forall(_._2 == 4L))
    val fluentScore = got.head._3
    val gibberishScore = got.last._3
    assert(gibberishScore < fluentScore,
      s"gibberish $gibberishScore must score below fluent $fluentScore")
  }

  test("packSequences: contiguous layout law and boundary straddle") {
    // per-partition law: offset+n_tokens of doc i lands exactly where
    // doc i+1 starts (seq_id*budget + seq_offset accumulate contiguously)
    val df = (1L to 50L).map(i =>
      (i, if (i % 2 == 0) "even" else "odd",
        ((1 to (i % 7 + 3).toInt).map(j => s"t$j")).mkString(" ")))
      .toDF("doc_id", "part", "text")
    val got = TextOps.packSequences(df, budget = 10L, Seq("part"), Seq("doc_id"),
        size(split(col("text"), " ")))
      .orderBy("part", "doc_id")
      .collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    for (g <- got.groupBy(_._1).values) {
      val starts = g.map(t => t._3 * 10 + t._4)
      // docs are laid end-to-end: next start = prev start + prev tokens
      assert(starts.zip(g.map(_._2)).zip(starts.drop(1)).forall {
        case ((s, n), s2) => s + n == s2 })
      // straddling docs exist (budget 10 < some doc lengths sums) and the
      // global token total is conserved: last start + last tokens = sum
      assert(starts.head == 0L)
      assert(starts.last + g.last._2 == g.map(_._2).sum)
    }
  }

  test("ngramHashes: occurrence count and distinct cardinality match the string form") {
    val df = Seq("a b c d e", "x x x x", "a b", "", "q w e q w e q w")
      .toDF("text")
    val got = df.select(
        size(TextOps.ngramHashes($"text", 3)).as("n_occ"),
        size(array_distinct(TextOps.ngramHashes($"text", 3))).as("n_dist"),
        size(TextOps.ngramsAll($"text", 3)).as("s_occ"),
        size(References.shingles($"text", 3)).as("s_dist"))
      .collect()
    for (r <- got) {
      assert(r.getInt(0) === math.max(r.getInt(2), 0), r.toString)
      assert(r.getInt(1) === math.max(r.getInt(3), 0), r.toString)
    }
    // same text -> same hash sequence; different n-grams -> different hashes
    val h = df.filter($"text" === "a b c d e")
      .select(TextOps.ngramHashes($"text", 3)).as[Seq[Long]].head()
    assert(h.length === 3 && h.distinct.length === 3)
  }

  test("ngramsAll counts occurrences (non-distinct), unlike shingles") {
    val df = Seq("x x x x").toDF("text")
    val all = df.select(TextOps.ngramsAll($"text", 3)).as[Seq[String]].head()
    val dist = df.select(References.shingles($"text", 3)).as[Seq[String]].head()
    assert(all === Seq("x x x", "x x x"))
    assert(dist === Seq("x x x"))
  }

  test("topNgramFrac: mode concentration, distinct from dup-word fraction") {
    val df = Seq(
      (1L, "a b a b a b a b"),   // "a b" 4x, "b a" 3x of 7 -> 4/7
      (2L, "a b c d e f g h"),   // all bigrams unique -> 1/7
      (3L, "the cat sat on the mat near the cat sat")) // "cat sat" + "the cat" 2x of 9
      .toDF("doc_id", "text")
    val got = TextOps.topNgramFrac(df).orderBy("doc_id")
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === math.rint(4.0 / 7 * 10000) / 10000)
    assert(got(2L) === math.rint(1.0 / 7 * 10000) / 10000)
    assert(got(3L) === math.rint(2.0 / 9 * 10000) / 10000)
    // the distributional point: doc 1 has only 2 distinct words (high
    // dup_word_frac) AND one dominating bigram; a doc of one repeated
    // phrase among diverse filler keeps a LOW dup-word signal while this
    // signal still fires — that's why the gate wants both
    val phrase = (1 to 4).map(i => s"w$i").mkString(" ") // diverse words
    val doc = Seq((9L, s"$phrase spark rocks spark rocks spark rocks"))
      .toDF("doc_id", "text")
    val f = TextOps.topNgramFrac(doc).as[(Long, Double)].head()._2
    assert(f > 0.2) // "spark rocks" dominates despite many distinct words
  }

  test("containmentPairs: doc-inside-doc scores ~1 where Jaccard is small") {
    val small = (1 to 10).map(i => s"token$i").mkString(" ")
    val filler = (100 to 160).map(i => s"word$i").mkString(" ")
    val df = Seq(
      (1L, small),                    // 8 distinct 3-shingles
      (2L, s"$small $filler"),        // contains doc 1 whole
      (3L, (200 to 240).map(i => s"other$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TextOps.containmentPairs(df, 0.9)
      .as[(Long, Long, Double)].collect()
    // the asymmetric pair fires at ~1.0 (the two bridge shingles around
    // the concatenation seam are NOT in doc 1, so containment is exactly
    // |sh1| / |sh1| = 1 from doc 1's side); nothing else pairs
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    assert(got.head._3 >= 0.99)
    // while symmetric Jaccard on the same pair is far below any dedup bar
    val sh = TextOps.shingleHashes(df, Seq("doc_id"), 3)
    val j = sh.as("a").join(sh.as("b"),
        $"a.doc_id" === 1L && $"b.doc_id" === 2L)
      .select(TextOps.jaccard($"a.hs", $"b.hs")).as[Double].head()
    assert(j < 0.2, s"jaccard was $j")
  }

  test("containmentPairs maxDf drops ubiquitous shingles conservatively") {
    // one boilerplate sentence shared by EVERY doc + distinct bodies:
    // uncapped, the boilerplate shingles alone pair all docs
    val boiler = "all rights reserved by the site"
    val df = (1L to 6L).map(i =>
      (i, s"$boiler " + (0 to 20).map(k => s"w${i}_$k").mkString(" ")))
      .toDF("doc_id", "text")
    val uncapped = TextOps.containmentPairs(df, 0.15)
    assert(uncapped.count() == 15) // all C(6,2) pairs fire on boilerplate
    // df-cap 3 < 6 docs: boilerplate shingles dropped, no pair survives —
    // under-estimate, never a false positive
    val capped = TextOps.containmentPairs(df, 0.15, maxDf = 3)
    assert(capped.count() == 0)
  }

  test("q_heavy_hitters materializes only the vocab-sized aggregate and " +
    "releases it (no corpus-sized checkpoint survives)") {
    // r7 localCheckpointed the exploded per-occurrence frame (~200x doc
    // bytes at scale); now the CMS builds from weighted (word, count) rows
    // and the only persisted frame is vocab-sized AND unpersisted before
    // the query returns — both asserted here.
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = graft.SparkEntry.queries("q_heavy_hitters")(spark, sf("sf0.001"))
    val rows = df.collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getBoolean(2)), "CMS estimate outside the eps*N law")
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked cached/checkpointed RDD ids: $leaked")
  }
}
