package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over `array<double>` columns.
  *
  * Why a custom Catalyst `Expression` (SURVEY.md §7.4 revisited): the
  * built-in higher-order form `aggregate(zip_with(a, b, *), 0.0, +)` is
  * semantically equivalent but `HigherOrderFunction`s don't participate in
  * whole-stage codegen — every evaluation walks interpreted lambda closures
  * and allocates an intermediate zipped array. In the LSH verify stages the
  * per-candidate-pair cost is exactly this lambda overhead, so this is the
  * one place the engine's built-ins genuinely can't express the semantics
  * efficiently. The generated code is a tight primitive loop with no
  * allocation.
  *
  * Null semantics: null array → null (nullIntolerant); null *elements* are
  * read as 0.0 (embedding fixtures carry none — documented contract). A
  * length mismatch folds over the shorter prefix (`zip_with` would instead
  * null-pad and poison the sum); inputs are fixed-dim embeddings either way.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<double>, array<double>), got ($l, $r)")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column + SQL surface for the native vector expressions. */
object GraftFunctions {

  /** Codegen'd dot product (see [[DotProduct]]). */
  def dotNative(a: Column, b: Column): Column =
    ColumnBridge.column(
      DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Codegen'd MinHash signature (see [[MinHashSig]]). */
  def minhashSigNative(hs: Column, nPerm: Int): Column =
    ColumnBridge.column(MinHashSig(ColumnBridge.expression(hs), nPerm))

  /** Codegen'd 64-bit SimHash over token hashes (see [[SimHash64]]). */
  def simhash64Native(tokenHashes: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokenHashes)))

  /** Native rolling n-gram hashes off the text bytes (see [[NgramHashes]]). */
  def ngramHashesNative(text: Column, n: Int): Column =
    ColumnBridge.column(NgramHashes(ColumnBridge.expression(text), n))

  /** Native distinct shingle hashes off the text bytes (see [[ShingleHashes]]). */
  def shingleHashesNative(text: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(text), n))

  /** Codegen'd sign-LSH band keys (see [[SignBandKeys]]). */
  def signBandKeys(v: Column, nBands: Int, bitsPerBand: Int,
      dim: Int): Column =
    ColumnBridge.column(
      SignBandKeys(ColumnBridge.expression(v), nBands, bitsPerBand, dim))

  /** Codegen'd argbest centroid id over a flat k x dim matrix (see
    * [[NearestCentroid]]).
    */
  def nearestCentroid(v: Column, cents: Seq[Double], dim: Int,
      euclidean: Boolean): Column =
    ColumnBridge.column(
      NearestCentroid(ColumnBridge.expression(v), cents, dim, euclidean))

  /** Codegen'd argbest centroid WITH score (see [[BestCentroid]]). */
  def bestCentroid(v: Column, cents: Seq[Double], dim: Int): Column =
    ColumnBridge.column(
      BestCentroid(ColumnBridge.expression(v), cents, dim))

  /** Codegen'd nOut-best centroid ids (see [[TopCentroids]]). */
  def topCentroids(v: Column, cents: Seq[Double], dim: Int, nOut: Int,
      euclidean: Boolean): Column =
    ColumnBridge.column(
      TopCentroids(ColumnBridge.expression(v), cents, dim, nOut, euclidean))

  /** Codegen'd product-quantization encode (see [[PqEncode]]). */
  def pqEncode(v: Column, books: Seq[Double], m: Int, dsub: Int,
      ksub: Int): Column =
    ColumnBridge.column(
      PqEncode(ColumnBridge.expression(v), books, m, dsub, ksub))

  /** Codegen'd per-query-batch ADC scores over PQ codes (see [[AdcScores]]). */
  def adcScores(codes: Column, tables: Seq[Double], ksub: Int,
      nQueries: Int): Column =
    ColumnBridge.column(
      AdcScores(ColumnBridge.expression(codes), tables, ksub, nQueries))

  /** Codegen'd code-vs-code SDC dot product (see [[SdcScore]]). */
  def sdcScore(a: Column, b: Column, tables: Seq[Double], ksub: Int): Column =
    ColumnBridge.column(
      SdcScore(ColumnBridge.expression(a), ColumnBridge.expression(b),
        tables, ksub))
}

/** The SQL-callable surface of the native expression + sketch-aggregate
  * family: every kernel a `queries()` operator runs is equally available
  * to `spark.sql` users — `SELECT graft_minhash_sig(hs, 64)`,
  * `SELECT graft_kll_agg(v, 200) ... GROUP BY k`, etc. [[GraftExtensions]]
  * injects the one builder table at session build; the test suites
  * register the same table as temp functions, so the two can't drift.
  *
  * Constructor parameters that shape GENERATED CODE or aggregation-buffer
  * layout (permutation counts, n-gram sizes, sketch k, the theta set op)
  * must be literals — the builders fold constant expressions and reject
  * anything non-foldable with the argument's name in the error.
  */
object GraftFunctionRegistry {
  import org.apache.spark.sql.types.{IntegerType, StringType}
  import org.apache.spark.sql.catalyst.util.ArrayData

  private def foldI(fn: String, arg: String, e: Expression): Int = {
    require(e.foldable, s"$fn: $arg must be a literal integer")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case s: Short => s.toInt
      case b: Byte => b.toInt
      case v => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal integer, got $v")
    }
  }

  private def foldS(fn: String, arg: String, e: Expression): String = {
    require(e.foldable && e.dataType == StringType,
      s"$fn: $arg must be a literal string")
    String.valueOf(e.eval())
  }

  private def foldDs(fn: String, arg: String, e: Expression): Seq[Double] = {
    require(e.foldable, s"$fn: $arg must be a literal array of doubles")
    e.eval() match {
      case a: ArrayData => a.toDoubleArray().toSeq
      case v => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal array of doubles, got $v")
    }
  }

  private def foldSs(fn: String, arg: String, e: Expression): Seq[String] = {
    require(e.foldable, s"$fn: $arg must be a literal array of strings")
    e.eval() match {
      case a: ArrayData =>
        a.toObjectArray(StringType).map(String.valueOf).toSeq
      case v => throw new IllegalArgumentException(
        s"$fn: $arg must be a literal array of strings, got $v")
    }
  }

  private def arity(fn: String, es: Seq[Expression], ns: Int*): Unit =
    require(ns.contains(es.length),
      s"$fn expects ${ns.mkString(" or ")} arguments, got ${es.length}")

  /** (name, builder) — scalars first, then the mergeable aggregates (the
    * analyzer wraps a bare `AggregateFunction` into its
    * `AggregateExpression`, same as every built-in agg).
    */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> { es: Seq[Expression] =>
      arity("graft_dot", es, 2); DotProduct(es(0), es(1)) },
    "graft_minhash_sig" -> { es: Seq[Expression] =>
      arity("graft_minhash_sig", es, 2)
      MinHashSig(es(0), foldI("graft_minhash_sig", "nPerm", es(1))) },
    "graft_sign_band_keys" -> { es: Seq[Expression] =>
      arity("graft_sign_band_keys", es, 4)
      SignBandKeys(es(0), foldI("graft_sign_band_keys", "nBands", es(1)),
        foldI("graft_sign_band_keys", "bitsPerBand", es(2)),
        foldI("graft_sign_band_keys", "dim", es(3))) },
    "graft_simhash64" -> { es: Seq[Expression] =>
      arity("graft_simhash64", es, 1); SimHash64(es(0)) },
    "graft_ngram_hashes" -> { es: Seq[Expression] =>
      arity("graft_ngram_hashes", es, 2)
      NgramHashes(es(0), foldI("graft_ngram_hashes", "n", es(1))) },
    "graft_shingle_hashes" -> { es: Seq[Expression] =>
      arity("graft_shingle_hashes", es, 2)
      ShingleHashes(es(0), foldI("graft_shingle_hashes", "n", es(1))) },
    "graft_nfc_normalize" -> { es: Seq[Expression] =>
      arity("graft_nfc_normalize", es, 1); NfcNormalize(es(0)) },
    "graft_drop_indices" -> { es: Seq[Expression] =>
      arity("graft_drop_indices", es, 2); DropIndices(es(0), es(1)) },
    "graft_sdc_score" -> { es: Seq[Expression] =>
      arity("graft_sdc_score", es, 4)
      SdcScore(es(0), es(1), foldDs("graft_sdc_score", "tables", es(2)),
        foldI("graft_sdc_score", "ksub", es(3))) },
    "graft_match_phrases" -> { es: Seq[Expression] =>
      arity("graft_match_phrases", es, 2)
      MatchPhrases(es(0), foldSs("graft_match_phrases", "phrases", es(1))) },
    "graft_kll_quantiles" -> { es: Seq[Expression] =>
      arity("graft_kll_quantiles", es, 2)
      KllQuantiles(es(0), foldDs("graft_kll_quantiles", "probs", es(1))) },
    "graft_theta_estimate" -> { es: Seq[Expression] =>
      arity("graft_theta_estimate", es, 1); ThetaEstimate(es(0)) },
    "graft_theta_set_estimate" -> { es: Seq[Expression] =>
      arity("graft_theta_set_estimate", es, 3)
      ThetaSetEstimate(es(0), es(1),
        foldS("graft_theta_set_estimate", "op", es(2))) },
    "graft_kll_agg" -> { es: Seq[Expression] =>
      arity("graft_kll_agg", es, 1, 2)
      if (es.length == 1) KllDoublesAgg(es(0))
      else KllDoublesAgg(es(0), foldI("graft_kll_agg", "k", es(1))) },
    "graft_kll_merge" -> { es: Seq[Expression] =>
      arity("graft_kll_merge", es, 1, 2)
      if (es.length == 1) KllMergeAgg(es(0))
      else KllMergeAgg(es(0), foldI("graft_kll_merge", "k", es(1))) },
    "graft_theta_agg" -> { es: Seq[Expression] =>
      arity("graft_theta_agg", es, 1); ThetaSketchAgg(es(0)) },
    "graft_theta_union" -> { es: Seq[Expression] =>
      arity("graft_theta_union", es, 1); ThetaUnionAgg(es(0)) },
    "graft_freq_bounds" -> { es: Seq[Expression] =>
      arity("graft_freq_bounds", es, 2); FreqItemBounds(es(0), es(1)) },
    "graft_freq_top_items" -> { es: Seq[Expression] =>
      arity("graft_freq_top_items", es, 1); FreqTopItems(es(0)) },
    "graft_freq_agg" -> { es: Seq[Expression] =>
      arity("graft_freq_agg", es, 1, 2)
      if (es.length == 1) FreqItemsAgg(es(0))
      else FreqItemsAgg(es(0), foldI("graft_freq_agg", "maxMapSize", es(1))) },
    "graft_freq_merge" -> { es: Seq[Expression] =>
      arity("graft_freq_merge", es, 1, 2)
      if (es.length == 1) FreqMergeAgg(es(0))
      else FreqMergeAgg(es(0), foldI("graft_freq_merge", "maxMapSize", es(1))) })

  private[functions] def inject(e: SparkSessionExtensions): Unit =
    builders.foreach { case (name, b) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftFunctionRegistry.type].getName, name),
        b))
    }
}

/** `SparkSessionExtensions` installer — the deployment path for clusters
  * where the session is built by infra, not application code:
  * `spark.sql.extensions=graft.functions.GraftExtensions`. Installs the
  * full SQL function family plus the TopK-per-key physical strategy.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftFunctionRegistry.inject(e)
    e.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}
