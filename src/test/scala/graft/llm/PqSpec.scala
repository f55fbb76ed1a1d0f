package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture
import graft.functions.GraftFunctions

/** Product-quantized ANN (q_ann_pq): kernel drift guards against composed
  * driver-side references, the recall law on the real fixture, and the
  * codegen-participation assertions the rest of the kernel family carries.
  */
class PqSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf("sf0.001") + "/embeddings.parquet")
  private lazy val model = Pq.train(emb, m = 8, ksub = 256, iters = 4)

  private def unit(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n > 0) v.map(_ / n) else v
  }

  /** Driver-side reference encode: per-subspace argmin L2, ties to the
    * lowest centroid — an independent composed form of the kernel.
    */
  private def refEncode(v: Array[Double]): Array[Int] = {
    val u = unit(v)
    Array.tabulate(model.m) { j =>
      var best = 0; var bestD = Double.MaxValue
      for (c <- 0 until model.ksub) {
        var d2 = 0.0
        for (i <- 0 until model.dsub) {
          val x = if (j * model.dsub + i < u.length) u(j * model.dsub + i) else 0.0
          val t = x - model.flat(j * model.ksub * model.dsub + c * model.dsub + i)
          d2 += t * t
        }
        if (d2 < bestD) { bestD = d2; best = c }
      }
      best
    }
  }

  test("PqEncode kernel matches the composed argmin reference bit-for-bit") {
    val got = Pq.encode(emb, model).orderBy("vec_id").limit(50)
      .as[(Long, Seq[Int])].collect()
    val raw = emb.orderBy("vec_id").limit(50)
      .select($"vec_id", VectorOps.toDouble($"embedding"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(got.nonEmpty)
    got.foreach { case (id, codes) =>
      assert(codes.toArray.sameElements(refEncode(raw(id).toArray)), s"vec_id=$id")
    }
  }

  test("AdcScores equals the driver-computed table-lookup sum exactly") {
    val q = unit(emb.orderBy("vec_id").limit(1)
      .select(VectorOps.toDouble($"embedding")).as[Seq[Double]].head().toArray)
    // the same flat table pqTopK builds: dot(query subvector, centroid)
    val table = for {
      j <- 0 until model.m; c <- 0 until model.ksub
    } yield {
      val off = j * model.ksub * model.dsub + c * model.dsub
      (0 until model.dsub).map(i => q(j * model.dsub + i) * model.flat(off + i)).sum
    }
    val got = Pq.encode(emb, model).orderBy("vec_id").limit(20)
      .select($"vec_id", $"codes",
        GraftFunctions.adcScores($"codes", table, model.ksub, 1).as("s"))
      .as[(Long, Seq[Int], Seq[Double])].collect()
    got.foreach { case (id, codes, s) =>
      val ref = codes.zipWithIndex.map { case (c, j) => table(j * model.ksub + c) }.sum
      assert(s.length == 1 && s.head === ref, s"vec_id=$id")
    }
  }

  test("ADC approximates cosine on unit vectors: shortlist recall justifies rerank") {
    // the q_ann_pq frame's own law, asserted here so a failure names the
    // actual per-query hit counts instead of surfacing as an opaque
    // oracle-hash mismatch (the q_quality_adaptive lesson, ADVICE r6)
    val rows = graft.SparkEntry.queries("q_ann_pq")(spark, sf("sf0.001"))
      .collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getBoolean(2)),
      s"recall law failed: ${rows.mkString("; ")}")
  }

  test("pq codes are m small ints — the 32x scan-compression claim's shape") {
    val c = Pq.encode(emb, model).select($"codes").as[Seq[Int]].head()
    assert(c.length == model.m)
    assert(c.forall(x => x >= 0 && x < model.ksub))
  }

  test("null embedding yields null codes, not a crash") {
    val df = Seq((1L, Some(Seq(1.0f, 2.0f))), (2L, None))
      .toDF("vec_id", "embedding")
    val m2 = Pq.PqModel(1, 2, 2, Seq(1.0, 0.0, 0.0, 1.0))
    val got = Pq.encode(df, m2).orderBy("vec_id").collect()
    assert(!got(0).isNullAt(1) && got(1).isNullAt(1))
  }

  test("model validation: dim not divisible by m fails at train time") {
    val e = intercept[IllegalArgumentException] {
      Pq.train(emb, m = 7)
    }
    assert(e.getMessage.contains("divisible"))
  }

  test("IVF-PQ index: store round-trip preserves results; probed cells " +
    "prune partitions; the stored table holds codes, never floats") {
    val queries = emb.filter($"vec_id" < 5)
    val built = Pq.buildIvfPqIndex(emb)
    val direct = References.ivfPqQuery(built, emb, queries, k = 5,
      nProbe = 8, shortlist = 256)
      .as[(Long, Long, Long, Double)].collect().toSet
    val dir = tmpDir("ivfpq") + "/idx"
    Pq.writeIvfPqIndex(built, dir)
    val loaded = Pq.readIvfPqIndex(spark, dir)
    assert(loaded.model == built.model)
    val viaStore = References.ivfPqQuery(loaded, emb, queries, k = 5,
      nProbe = 8, shortlist = 256)
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaStore === direct)
    // the scale contract: the persisted index carries (id, codes, cell)
    // ONLY — floats live in the corpus table, fetched by the rerank
    assert(loaded.assignments.columns.toSet ==
      Set("neighbor_id", "codes", "cell"))
    val cells = new java.io.File(s"$dir/assignments").list()
      .filter(_.startsWith("cell=")).toSeq
    assert(cells.nonEmpty)
    val plan = loaded.assignments.filter($"cell" === 0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(dir).getParentFile)
  }

  test("ivfPqQueryPruned == ivfPqQuery bit-for-bit; the rerank fetch " +
    "reads a BOUNDED file set of the corpus store, never the whole table") {
    val queries = emb.filter($"vec_id" < 5)
    val built = Pq.buildIvfPqIndex(emb)
    val exact = References.ivfPqQuery(built, emb, queries, k = 5,
      nProbe = 8, shortlist = 8)
      .as[(Long, Long, Long, Double)].collect().toSet
    val root = tmpDir("ivfpqpr")
    // 50 range-laid files over the 500-vector fixture: ~10 ids per file,
    // so a <=40-id shortlist leaves many files with no candidate to keep
    emb.repartitionByRange(50, $"vec_id").write.parquet(s"$root/corpus")
    graft.store.BloomSkip.write(spark, s"$root/corpus", Seq("vec_id"))
    var fetch: Option[(Int, Int)] = None
    val pruned = Pq.ivfPqQueryPruned(built, spark, s"$root/corpus", queries,
        k = 5, nProbe = 8, shortlist = 8,
        onFetch = (k, t) => fetch = Some((k, t)))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(pruned === exact)
    val (kept, total) = fetch.getOrElse(fail("pruned fetch did not run"))
    assert(total >= 40, s"corpus store has $total files — no grain")
    // ~40 candidate ids over ~10-id files keeps ≈ total·(1−0.92^10) ≈ 29
    // files; equality above pins zero correctness loss, this pins that a
    // MATERIAL slice of the store is skipped (≥ 15 files at 50)
    assert(kept <= total - 15, s"fetch kept $kept of $total files")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("q_ann_ivfpq law holds on the fixture") {
    val rows = graft.SparkEntry.queries("q_ann_ivfpq")(spark, sf("sf0.001"))
      .collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getBoolean(2)),
      s"recall law failed: ${rows.mkString("; ")}")
  }

  test("both kernels participate in whole-stage codegen (no fallback)") {
    val enc = spark.range(4)
      .select(GraftFunctions.pqEncode(
        array($"id".cast("double"), lit(1.0)),
        Seq(0.0, 0.0, 1.0, 1.0), 1, 2, 2).as("c"))
    assert(enc.queryExecution.executedPlan.toString
      .contains("*(1) Project [graft_pq_encode"), enc.queryExecution.executedPlan)
    val adc = enc.select(GraftFunctions.adcScores($"c", Seq(0.5, 0.25), 2, 1))
    assert(adc.queryExecution.executedPlan.toString
      .contains("graft_adc_scores"), adc.queryExecution.executedPlan)
    assert(!adc.queryExecution.executedPlan.toString.contains("Fallback"))
  }
}
