package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkFixture
import graft.llm.VectorOps

class VectorExpressionsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def vecs = Seq(
    (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
    (2L, Seq(0.0, 0.0), Seq(1.0, 1.0)),
    (3L, Seq(-1.5, 2.5), Seq(2.0, 4.0))
  ).toDF("id", "a", "b")

  test("native dot matches the HOF reference implementation bit-for-bit") {
    val got = vecs.select($"id", GraftFunctions.dotNative($"a", $"b").as("n"),
      graft.llm.References.dotHof($"a", $"b").as("h"))
      .as[(Long, Double, Double)].collect()
    got.foreach { case (id, n, h) => assert(n === h, s"id=$id") }
    assert(got.find(_._1 == 1L).get._2 === 32.0)
  }

  test("null array yields null; empty arrays yield 0.0") {
    val df = Seq((1L, Some(Seq(1.0)), None: Option[Seq[Double]]),
      (2L, Some(Seq.empty[Double]), Some(Seq.empty[Double])))
      .toDF("id", "a", "b")
    val got = df.select($"id", GraftFunctions.dotNative($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got(1L) === None)
    assert(got(2L) === Some(0.0))
  }

  test("graft_dot registers for SQL use") {
    SqlFunctions.register(spark)
    vecs.createOrReplaceTempView("vx")
    val r = spark.sql("SELECT graft_dot(a, b) AS d FROM vx WHERE id = 1")
      .as[Double].head()
    assert(r === 32.0)
  }

  test("type mismatch is an analysis error, not a runtime crash") {
    val bad = Seq((1L, "x")).toDF("id", "s")
    val e = intercept[Exception] {
      bad.select(GraftFunctions.dotNative($"s", $"s")).collect()
    }
    assert(e.getMessage.contains("graft_dot"))
  }

  test("expression participates in whole-stage codegen (no fallback)") {
    // LocalTableScan short-circuits codegen; use a range-backed projection
    val plan = spark.range(4)
      .select(GraftFunctions.dotNative(
        array($"id".cast("double"), lit(2.0)),
        array(lit(3.0), lit(4.0))).as("d"))
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark operators inside a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [graft_dot"), plan)
  }

  test("the full SQL function family registers and matches the Column API") {
    SqlFunctions.register(spark)
    Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text").createOrReplaceTempView("fam_docs")
    // scalars: SQL result == Column-API result, bit for bit
    val sqlScalars = spark.sql(
      """SELECT doc_id,
        |  graft_shingle_hashes(text, 3) AS sh,
        |  graft_ngram_hashes(text, 8) AS ng,
        |  graft_simhash64(graft_shingle_hashes(text, 3)) AS sim,
        |  graft_minhash_sig(graft_shingle_hashes(text, 3), 16) AS sig,
        |  graft_nfc_normalize(text) AS norm
        |FROM fam_docs ORDER BY doc_id""".stripMargin).collect()
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    val api = spark.table("fam_docs").select($"doc_id",
      bridge.column(MinHashSig(
        ShingleHashes(bridge.expression($"text"), 3), 16)).as("sig"))
      .orderBy("doc_id").collect()
    sqlScalars.zip(api).foreach { case (s, a) =>
      assert(s.getSeq[Long](4) === a.getSeq[Long](1), s"sig ${s.getLong(0)}")
    }
    // aggregates: KLL quantile + theta distinct through pure SQL
    spark.range(1, 10001).select($"id".cast("double").as("v"),
      ($"id" % 7).as("g"), xxhash64($"id").as("u"))
      .createOrReplaceTempView("fam_nums")
    val q = spark.sql(
      """SELECT graft_kll_quantiles(graft_kll_agg(v, 200),
        |         array(0.5d))[0] AS p50,
        |  graft_theta_estimate(graft_theta_agg(u)) AS nd
        |FROM fam_nums""".stripMargin).head()
    assert(math.abs(q.getDouble(0) - 5000) <= 300, s"p50=${q.getDouble(0)}")
    assert(math.abs(q.getDouble(1) - 10000) / 10000 < 0.05)
    // two-level: per-group sketches composed by the merge/union aggs
    val m = spark.sql(
      """SELECT graft_kll_quantiles(graft_kll_merge(sk), array(0.5d))[0] AS p50,
        |  graft_theta_estimate(graft_theta_union(tu)) AS nd
        |FROM (SELECT g, graft_kll_agg(v) AS sk, graft_theta_agg(u) AS tu
        |      FROM fam_nums GROUP BY g)""".stripMargin).head()
    assert(math.abs(m.getDouble(0) - 5000) <= 300)
    assert(math.abs(m.getDouble(1) - 10000) / 10000 < 0.05)
  }

  test("non-literal shape parameters are rejected with the argument named") {
    SqlFunctions.register(spark)
    spark.range(3).selectExpr("id", "cast(id AS int) AS n")
      .createOrReplaceTempView("fam_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_minhash_sig(array(id), n) FROM fam_bad")
        .collect()
    }
    assert(e.getMessage.contains("nPerm"), e.getMessage.take(300))
  }

  test("GraftExtensions installs graft_dot at session build time") {
    // fresh session (shared SparkContext) so the injection path itself is
    // what's under test; NOT stopped — stop() would kill the shared context
    val s2 = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .create()
    val d = s2.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(d === 11.0)
  }
}
