package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Laws for the mergeable KLL / Theta sketch aggregates. The serialization
  * roundtrip is load-bearing (partial aggregation serializes buffers at the
  * shuffle boundary), so every law here runs through a real multi-partition
  * aggregation — not a single-JVM-object shortcut.
  */
class SketchAggsSpec extends AnyFunSuite with SparkFixture {
  import SketchAggs._

  private def nums(n: Int, parts: Int = 7) = {
    import spark.implicits._
    spark.sparkContext
      .parallelize((1 to n).map(i => (i.toLong, i.toDouble)), parts)
      .toDF("id", "v")
  }

  test("KLL: sketch quantiles track exact quantiles within rank error") {
    val df = nums(10000)
    val row = df
      .agg(kllAgg(col("v")).as("sk"))
      .select(kllQuantiles(col("sk"), Seq(0.1, 0.5, 0.99)).as("q"))
      .head()
    val qs = row.getSeq[Double](0)
    // uniform 1..10000: value at rank p is ~p*10000; k=200 → ~1.65% rank err
    assert(math.abs(qs(0) - 1000) <= 300, s"p10=${qs(0)}")
    assert(math.abs(qs(1) - 5000) <= 300, s"p50=${qs(1)}")
    assert(math.abs(qs(2) - 9900) <= 300, s"p99=${qs(2)}")
  }

  test("KLL: merge of per-group sketches ≡ one global sketch (same bands)") {
    val df = nums(8000).withColumn("g", col("id") % 13)
    val direct = df.agg(kllAgg(col("v")).as("sk"))
      .select(kllQuantiles(col("sk"), Seq(0.5)).as("q")).head().getSeq[Double](0)
    val merged = df.groupBy("g").agg(kllAgg(col("v")).as("sk"))
      .agg(kllMergeAgg(col("sk")).as("sk"))
      .select(kllQuantiles(col("sk"), Seq(0.5)).as("q")).head().getSeq[Double](0)
    // merged sketch keeps the SAME rank-error contract, not bitwise equality
    assert(math.abs(direct.head - 4000) <= 300)
    assert(math.abs(merged.head - 4000) <= 300)
  }

  test("KLL merge: a finer-k stored sketch into a coarser buffer fails loudly") {
    val stored = nums(2000).agg(kllAgg(col("v"), k = 400).as("sk"))
    // contract direction: target k >= source k is fine...
    val ok = stored.agg(kllMergeAgg(col("sk"), k = 400).as("m"))
      .select(kllQuantiles(col("m"), Seq(0.5)).as("q")).head().getSeq[Double](0)
    assert(math.abs(ok.head - 1000) <= 60)
    // ...but a coarser buffer would silently downgrade the stored sketch's
    // rank-error bound — the round-7 guard turns that into a loud failure
    val e = intercept[Throwable] {
      stored.agg(kllMergeAgg(col("sk"), k = 200).as("m")).collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("downgrade"), msgs.take(500))
  }

  test("KLL: sketch-cut quality gate keeps 0.8 within the q_quality_adaptive band") {
    // the law behind q_quality_adaptive's ok_kept_frac boolean, asserted
    // here with the MEASURED fraction visible (the oracle key would only
    // show an opaque hash mismatch on a band miss). KLL compaction is
    // randomized per run; the ±0.06 band is ~4x the k=200 99%-conf error.
    val df = nums(10000)
    val cut = df.agg(kllAgg(col("v")).as("sk"))
      .select(element_at(kllQuantiles(col("sk"), Seq(0.2)), 1))
      .head().getDouble(0)
    val kept = df.filter(col("v") >= cut).count().toDouble / 10000
    assert(kept >= 0.74 && kept <= 0.86, s"kept_frac=$kept (cut=$cut)")
  }

  test("KLL: nulls are skipped; all-null group yields empty sketch → null quantiles") {
    import spark.implicits._
    val df = Seq[(java.lang.Long, java.lang.Double)](
      (1L, 1.0), (2L, null), (3L, 3.0)).toDF("id", "v")
    val qs = df.agg(kllAgg(col("v")).as("sk"))
      .select(kllQuantiles(col("sk"), Seq(0.0, 1.0)).as("q"))
      .head().getSeq[Double](0)
    assert(qs == Seq(1.0, 3.0)) // min/max over the two non-null values
    val empty = df.filter(col("id") === 2L)
      .agg(kllAgg(col("v")).as("sk"))
      .select(kllQuantiles(col("sk"), Seq(0.5)).as("q")).head()
    assert(empty.isNullAt(0))
  }

  test("Theta: below nominal entries the estimate is EXACT; set ops agree with set algebra") {
    import spark.implicits._
    // A = 1..1000, B = 501..1500 → |A|=1000 |A∩B|=500 |A\B|=500 |A∪B|=1500
    val df = (1 to 1500).map { i =>
      (i.toLong, i <= 1000, i > 500)
    }.toDF("id", "inA", "inB").repartition(5)
    val r = df.agg(
        thetaAgg(when(col("inA"), col("id"))).as("ska"),
        thetaAgg(when(col("inB"), col("id"))).as("skb"))
      .select(
        thetaEstimate(col("ska")).as("na"),
        thetaSetEstimate(col("ska"), col("skb"), "intersect").as("nboth"),
        thetaSetEstimate(col("ska"), col("skb"), "anotb").as("nonly"),
        thetaSetEstimate(col("ska"), col("skb"), "union").as("neither"))
      .head()
    assert(r.getDouble(0) == 1000.0)
    assert(r.getDouble(1) == 500.0)
    assert(r.getDouble(2) == 500.0)
    assert(r.getDouble(3) == 1500.0)
  }

  test("Theta: union of stored sketch bytes ≡ sketch of the union of rows") {
    import spark.implicits._
    SqlFunctions.register(spark)
    val df = (1 to 3000).map(i => (i.toLong, i % 3)).toDF("id", "g")
      .repartition(4)
    val whole = df.agg(thetaAgg(col("id")).as("sk"))
      .select(thetaEstimate(col("sk"))).head().getDouble(0)
    val merged = df.groupBy("g").agg(thetaAgg(col("id")).as("sk"))
      .agg(expr("graft_theta_union(sk)").as("sk"))
      .select(thetaEstimate(col("sk"))).head().getDouble(0)
    assert(whole == 3000.0)
    assert(merged == whole) // disjoint groups, sub-threshold: both exact
  }

  test("Theta: duplicates across partitions count once (it is a SET sketch)") {
    import spark.implicits._
    val df = ((1 to 500) ++ (1 to 500)).map(_.toLong).toDF("id")
      .repartition(8)
    val est = df.agg(thetaAgg(col("id")).as("sk"))
      .select(thetaEstimate(col("sk"))).head().getDouble(0)
    assert(est == 500.0)
  }

  test("FreqItems: bounds contain the true count under partial/merge; " +
    "heavy hitter survives the purge pressure of a wide tail") {
    import spark.implicits._
    SqlFunctions.register(spark)
    // 64-counter sketch vs 5000 distinct tail items: purges are forced,
    // yet lb ≤ true ≤ ub must hold and "hot" must be reported
    val df = ((1 to 2000).map(_ => "hot") ++
      (1 to 5000).map(i => s"tail_$i")).toDF("w").repartition(8)
    val sk = df.agg(expr("graft_freq_agg(w, 64)").as("sk"))
    val b = sk.select(freqBounds(col("sk"), lit("hot")).as("b"))
      .selectExpr("b.est", "b.lb", "b.ub")
      .as[(Long, Long, Long)].head()
    assert(b._2 <= 2000 && 2000 <= b._3, s"bounds [$b]")
    val top = sk.select(expr("graft_freq_top_items(sk)").as("t"))
      .selectExpr("explode(t) AS r").selectExpr("r.item")
      .as[String].collect()
    assert(top.contains("hot"))
  }

  test("FreqItems: weighted (item, count) updates ≡ per-occurrence feeding") {
    import spark.implicits._
    SqlFunctions.register(spark)
    // Below maxMapSize no purge can fire, so estimates are EXACT and
    // deterministic — weighted build from the (item, count) aggregate must
    // equal both the exact counts and the per-occurrence build (which is
    // what lets q_freq_sketch feed sketches from a vocab-sized aggregate
    // instead of materializing the exploded occurrence stream).
    val occ = ((1 to 900).map(_ => "hot") ++ (1 to 40).map(i => s"t${i % 20}"))
      .toDF("w").repartition(6)
    val counts = occ.groupBy("w").agg(count(lit(1)).as("cnt"))
    val viaOcc = occ.agg(expr("graft_freq_agg(w, 64)").as("sk"))
    val viaCnt = counts.agg(freqAggWeighted(col("w"), col("cnt"), 64).as("sk"))
    for ((sk, label) <- Seq(viaOcc -> "occ", viaCnt -> "weighted")) {
      val b = sk.select(freqBounds(col("sk"), lit("hot")).as("b"))
        .selectExpr("b.est", "b.lb", "b.ub").as[(Long, Long, Long)].head()
      assert(b == ((900L, 900L, 900L)), s"$label: $b")
    }
    // under purge pressure the weighted form keeps the lb ≤ true ≤ ub law
    val wide = (1 to 5000).map(i => (s"tail_$i", 1L))
      .toDF("w", "cnt").unionAll(Seq(("hot", 2000L)).toDF("w", "cnt"))
      .repartition(8)
    val b = wide.agg(freqAggWeighted(col("w"), col("cnt"), 64).as("sk"))
      .select(freqBounds(col("sk"), lit("hot")).as("b"))
      .selectExpr("b.lb", "b.ub").as[(Long, Long)].head()
    assert(b._1 <= 2000 && 2000 <= b._2, s"bounds $b")
  }

  test("FreqItems: merge of stored per-group sketches preserves the bound " +
    "guarantee; SQL surface registers") {
    import spark.implicits._
    SqlFunctions.register(spark)
    ((1 to 900).map(_ => ("g1", "x")) ++ (1 to 600).map(_ => ("g2", "x")) ++
      (1 to 300).map(i => ("g1", s"t$i"))).toDF("g", "w")
      .createOrReplaceTempView("freq_rows")
    val merged = spark.sql(
      """SELECT graft_freq_bounds(graft_freq_merge(sk), 'x') AS b FROM (
        |  SELECT graft_freq_agg(w, 128) AS sk FROM freq_rows GROUP BY g)"""
        .stripMargin).selectExpr("b.lb", "b.ub").as[(Long, Long)].head()
    assert(merged._1 <= 1500 && 1500 <= merged._2, s"bounds $merged")
    // constructor validation: non-power-of-2 map size fails loudly
    val e = intercept[Exception] {
      Seq("a").toDF("w").agg(expr("graft_freq_agg(w, 100)")).collect()
    }
    assert(e.getMessage.contains("power of 2"))
  }
}
