package graft.functions

import org.apache.datasketches.kll.KllDoublesSketch
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.quantilescommon.QuantileSearchCriteria
import org.apache.datasketches.theta.{CompactSketch, SetOperation, Sketches, Union}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType}

/** Mergeable sketch aggregates over DataSketches KLL (quantiles) and Theta
  * (set algebra), as `TypedImperativeAggregate`s — the buffer is the live
  * sketch OBJECT; serialization happens only at partial/final shuffle
  * boundaries, never per row (an `Aggregator` over serialized bytes would
  * deserialize+reserialize on every `reduce` call).
  *
  * Why these two complete the sketch shelf (HLL `hll_sketch_agg` and the
  * Count-Min heavy-hitters agg already exist):
  *  - KLL gives MERGEABLE quantiles with a proven rank-error bound
  *    (~1.65% at k=200): per-partition/per-day sketches compose
  *    associatively, so a 100 TB percentile dashboard is a union of
  *    per-partition KLL states, not a re-sort of the data — the thing
  *    `percentile_approx` (GK, also mergeable but unexposed state) and
  *    exact `percentile` (full sort) can't do incrementally.
  *  - Theta supports set EXPRESSIONS across stored states — union,
  *    intersection, A-NOT-B with estimates — where HLL only unions.
  *    "users who did X and Y but not Z this quarter" becomes algebra over
  *    per-day 4 KiB sketches instead of a distinct-join over raw events.
  *
  * The scalar readers ([[KllQuantiles]], [[ThetaEstimate]],
  * [[ThetaSetEstimate]]) are `CodegenFallback` by design: they evaluate
  * once per GROUP (post-aggregation rows), not per input row, so codegen
  * would buy nothing and the fallback keeps them out of the generated
  * hot path entirely.
  */
object SketchAggs {

  /** KLL sketch of a double column → serialized sketch bytes (mergeable). */
  def kllAgg(c: Column, k: Int = 200): Column =
    ColumnBridge.column(
      KllDoublesAgg(ColumnBridge.expression(c), k).toAggregateExpression())

  /** Union of stored KLL sketch bytes → merged sketch bytes. `k` must be
    * ≥ the k the stored sketches were built with — KLL merge preserves the
    * rank-error bound only when the target buffer is at least as accurate
    * as the sources (a k=200 buffer would silently downgrade k=1000
    * per-day sketches to k=200 accuracy).
    */
  def kllMergeAgg(c: Column, k: Int = 200): Column =
    ColumnBridge.column(
      KllMergeAgg(ColumnBridge.expression(c), k).toAggregateExpression())

  /** Quantiles at `probs` read from KLL sketch bytes (INCLUSIVE rule). */
  def kllQuantiles(bytes: Column, probs: Seq[Double]): Column =
    ColumnBridge.column(
      KllQuantiles(ColumnBridge.expression(bytes), probs))

  /** Theta sketch of a long column → compact sketch bytes (mergeable). */
  def thetaAgg(c: Column): Column =
    ColumnBridge.column(
      ThetaSketchAgg(ColumnBridge.expression(c)).toAggregateExpression())

  /** Distinct-count estimate of Theta sketch bytes. */
  def thetaEstimate(bytes: Column): Column =
    ColumnBridge.column(ThetaEstimate(ColumnBridge.expression(bytes)))

  /** Estimate of `a ∪ b` / `a ∩ b` / `a \ b` over two sketch-byte columns. */
  def thetaSetEstimate(a: Column, b: Column, op: String): Column =
    ColumnBridge.column(
      ThetaSetEstimate(ColumnBridge.expression(a),
        ColumnBridge.expression(b), op))

  /** Weighted frequent-items sketch: `(item, count)` rows, bit-identical
    * to `count` unweighted updates — lets the sketch build from a vocab-
    * sized aggregate instead of the exploded occurrence stream.
    */
  def freqAggWeighted(item: Column, weight: Column,
      maxMapSize: Int = 256): Column =
    ColumnBridge.column(
      FreqWeightedAgg(ColumnBridge.expression(item),
        ColumnBridge.expression(weight), maxMapSize)
        .toAggregateExpression())

  /** Union of stored frequent-items sketch bytes → merged bytes. */
  def freqMergeAgg(c: Column, maxMapSize: Int = 256): Column =
    ColumnBridge.column(
      FreqMergeAgg(ColumnBridge.expression(c), maxMapSize)
        .toAggregateExpression())

  /** `struct<est, lb, ub>` for one item — the deterministic bound surface. */
  def freqBounds(bytes: Column, item: Column): Column =
    ColumnBridge.column(FreqItemBounds(
      ColumnBridge.expression(bytes), ColumnBridge.expression(item)))

  private[functions] def newUnion(): Union =
    SetOperation.builder().buildUnion()

  private[functions] def heapifyCompact(bytes: Array[Byte]): CompactSketch =
    Sketches.heapifyCompactSketch(Memory.wrap(bytes))

  private[functions] val stringSerDe =
    new org.apache.datasketches.common.ArrayOfStringsSerDe()

  private[functions] def heapifyFreq(bytes: Array[Byte])
      : org.apache.datasketches.frequencies.ItemsSketch[String] =
    org.apache.datasketches.frequencies.ItemsSketch
      .getInstance(Memory.wrap(bytes), stringSerDe)
}

/** Common plumbing for the graft sketch aggregates: binary output, null
  * inputs skipped (SQL aggregate convention), single child.
  */
abstract class SketchAgg[T] extends TypedImperativeAggregate[T] {
  def child: Expression
  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
}

/** KLL quantile sketch aggregate: `update` feeds doubles into a heap
  * sketch; `merge` is DataSketches' own sketch merge (rank-error bound
  * survives merging — the KLL paper's guarantee, which is exactly why the
  * partial/final split of a Spark aggregation is safe here).
  */
case class KllDoublesAgg(
    child: Expression,
    k: Int = 200,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchAgg[KllDoublesSketch] {
  require(k >= 8 && k <= 65535, s"KLL k out of range: $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_kll_agg requires double input, got $t")
  }

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, row: InternalRow): KllDoublesSketch = {
    val v = child.eval(row)
    if (v != null) buf.update(v.asInstanceOf[Double])
    buf
  }

  override def merge(a: KllDoublesSketch, b: KllDoublesSketch): KllDoublesSketch = {
    a.merge(b); a
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray

  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(o: Int): KllDoublesAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllDoublesAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): KllDoublesAgg = copy(child = c.head)
  override def prettyName: String = "graft_kll_agg"
}

/** Merge of STORED KLL sketch bytes — the incremental-view form: per-day
  * sketches written once, a dashboard quantile is a union over the days it
  * covers (the same compose-stored-state contract as `hll_union_agg`).
  */
case class KllMergeAgg(
    child: Expression,
    k: Int = 200,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchAgg[KllDoublesSketch] {
  require(k >= 8 && k <= 65535, s"KLL k out of range: $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_kll_merge requires sketch bytes, got $t")
  }

  override def createAggregationBuffer(): KllDoublesSketch =
    KllDoublesSketch.newHeapInstance(k)

  override def update(buf: KllDoublesSketch, row: InternalRow): KllDoublesSketch = {
    val v = child.eval(row)
    if (v != null) {
      val src = KllDoublesSketch.heapify(
        Memory.wrap(v.asInstanceOf[Array[Byte]]))
      // enforce the documented contract (object SketchAggs.kllMergeAgg):
      // merging a finer-k stored sketch into a coarser buffer silently
      // downgrades its rank-error bound — fail instead of degrading
      require(src.getK <= k,
        s"graft_kll_merge(k=$k) would downgrade a stored k=${src.getK} " +
          "sketch; call kllMergeAgg with k >= the stored sketches' k")
      buf.merge(src)
    }
    buf
  }

  override def merge(a: KllDoublesSketch, b: KllDoublesSketch): KllDoublesSketch = {
    a.merge(b); a
  }

  override def eval(buf: KllDoublesSketch): Any = buf.toByteArray
  override def serialize(buf: KllDoublesSketch): Array[Byte] = buf.toByteArray
  override def deserialize(bytes: Array[Byte]): KllDoublesSketch =
    KllDoublesSketch.heapify(Memory.wrap(bytes))

  override def withNewMutableAggBufferOffset(o: Int): KllMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): KllMergeAgg = copy(child = c.head)
  override def prettyName: String = "graft_kll_merge"
}

/** Theta distinct-set sketch over a long key column. The buffer is a theta
  * `Union` (accepts both raw updates and sketch merges); `serialize`
  * compacts it — a compact theta sketch IS the union state (retained
  * hashes below θ), so the roundtrip is lossless for aggregation purposes.
  */
case class ThetaSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchAgg[Union] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_theta_agg requires bigint input (hash strings first), got $t")
  }

  override def createAggregationBuffer(): Union = SketchAggs.newUnion()

  override def update(buf: Union, row: InternalRow): Union = {
    val v = child.eval(row)
    if (v != null) buf.update(v.asInstanceOf[Long])
    buf
  }

  override def merge(a: Union, b: Union): Union = {
    a.union(b.getResult()); a
  }

  override def eval(buf: Union): Any = buf.getResult().toByteArray

  override def serialize(buf: Union): Array[Byte] =
    buf.getResult().toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = SketchAggs.newUnion()
    u.union(Memory.wrap(bytes))
    u
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ThetaSketchAgg = copy(child = c.head)
  override def prettyName: String = "graft_theta_agg"
}

/** Union of STORED theta sketch bytes (compose per-day/per-partition set
  * states without touching raw keys).
  */
case class ThetaUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0) extends SketchAgg[Union] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_theta_union requires sketch bytes, got $t")
  }

  override def createAggregationBuffer(): Union = SketchAggs.newUnion()

  override def update(buf: Union, row: InternalRow): Union = {
    val v = child.eval(row)
    if (v != null) buf.union(Memory.wrap(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(a: Union, b: Union): Union = {
    a.union(b.getResult()); a
  }

  override def eval(buf: Union): Any = buf.getResult().toByteArray
  override def serialize(buf: Union): Array[Byte] =
    buf.getResult().toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = SketchAggs.newUnion()
    u.union(Memory.wrap(bytes))
    u
  }

  override def withNewMutableAggBufferOffset(o: Int): ThetaUnionAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ThetaUnionAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): ThetaUnionAgg = copy(child = c.head)
  override def prettyName: String = "graft_theta_union"
}

/** Quantiles at fixed probabilities read from KLL sketch bytes. Evaluates
  * once per grouped row — `CodegenFallback` is deliberate (see module doc).
  * Empty sketch → null (no data, no quantile).
  */
case class KllQuantiles(child: Expression, probs: Seq[Double])
    extends UnaryExpression with CodegenFallback {
  require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
    s"probabilities must be in [0,1]: $probs")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // an EMPTY sketch has no quantiles → null, even over a non-null child
  override def nullable: Boolean = true
  override def prettyName: String = "graft_kll_quantiles"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires sketch bytes, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val sk = KllDoublesSketch.heapify(
      Memory.wrap(input.asInstanceOf[Array[Byte]]))
    if (sk.isEmpty) null
    else new GenericArrayData(probs.map(p =>
      sk.getQuantile(p, QuantileSearchCriteria.INCLUSIVE)).toArray)
  }

  override protected def withNewChildInternal(c: Expression): KllQuantiles =
    copy(child = c)
}

/** Distinct-count estimate from compact theta sketch bytes. */
case class ThetaEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_theta_estimate"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires sketch bytes, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    SketchAggs.heapifyCompact(input.asInstanceOf[Array[Byte]]).getEstimate

  override protected def withNewChildInternal(c: Expression): ThetaEstimate =
    copy(child = c)
}

/** Set-expression estimate over two compact theta sketch byte columns:
  * `op` ∈ union | intersect | anotb. This is the piece HLL fundamentally
  * lacks — intersections and differences compose from STORED states.
  */
case class ThetaSetEstimate(left: Expression, right: Expression, op: String)
    extends BinaryExpression with CodegenFallback {
  require(Set("union", "intersect", "anotb").contains(op),
    s"unknown theta set op: $op")

  override def dataType: DataType = DoubleType
  override def prettyName: String = s"graft_theta_$op"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two sketch-byte columns, got $t")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val sa = SketchAggs.heapifyCompact(a.asInstanceOf[Array[Byte]])
    val sb = SketchAggs.heapifyCompact(b.asInstanceOf[Array[Byte]])
    op match {
      case "union" =>
        val u = SketchAggs.newUnion()
        u.union(sa); u.union(sb)
        u.getResult().getEstimate
      case "intersect" =>
        val i = SetOperation.builder().buildIntersection()
        i.intersect(sa); i.intersect(sb)
        i.getResult().getEstimate
      case "anotb" =>
        val d = SetOperation.builder().buildANotB()
        d.setA(sa); d.notB(sb)
        d.getResult(true).getEstimate
    }
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): ThetaSetEstimate =
    copy(left = l, right = r)
}

/** Frequent-items (heavy hitters) sketch aggregate — DataSketches
  * `ItemsSketch[String]` (Misra-Gries/space-saving family): `maxMapSize`
  * counters answer "top items and how often" with a hard deterministic
  * guarantee `lb ≤ true ≤ ub` per item and `ub − lb ≤ 3.5·N/maxMapSize`.
  *
  * Relationship to the CMS the engine already carries (q_heavy_hitters):
  * CMS answers point frequency queries for KNOWN items from fixed bytes;
  * the items sketch additionally RETAINS the candidate items, so "what
  * are the top items" needs no second exact pass — and its serialized
  * state is a mergeable per-partition/per-day view in exactly the
  * KLL/Theta stored-state regime. Estimates (not bounds) can vary with
  * merge order under Spark's partition-order nondeterminism — anything
  * hash-gated must assert the BOUNDS, which are order-independent
  * guarantees ([[FreqItemBounds]]).
  */
case class FreqItemsAgg(
    child: Expression,
    maxMapSize: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[org.apache.datasketches.frequencies.ItemsSketch[String]] {
  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_freq_agg requires string input, got $t")
  }

  override def createAggregationBuffer()
      : org.apache.datasketches.frequencies.ItemsSketch[String] =
    new org.apache.datasketches.frequencies.ItemsSketch[String](maxMapSize)

  override def update(
      buf: org.apache.datasketches.frequencies.ItemsSketch[String],
      row: InternalRow)
      : org.apache.datasketches.frequencies.ItemsSketch[String] = {
    val v = child.eval(row)
    if (v != null) buf.update(v.toString)
    buf
  }

  override def merge(
      a: org.apache.datasketches.frequencies.ItemsSketch[String],
      b: org.apache.datasketches.frequencies.ItemsSketch[String])
      : org.apache.datasketches.frequencies.ItemsSketch[String] = {
    a.merge(b); a
  }

  override def eval(
      buf: org.apache.datasketches.frequencies.ItemsSketch[String]): Any =
    serialize(buf)

  override def serialize(
      buf: org.apache.datasketches.frequencies.ItemsSketch[String]): Array[Byte] =
    buf.toByteArray(SketchAggs.stringSerDe)
  override def deserialize(bytes: Array[Byte])
      : org.apache.datasketches.frequencies.ItemsSketch[String] =
    SketchAggs.heapifyFreq(bytes)

  override def withNewMutableAggBufferOffset(o: Int): FreqItemsAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqItemsAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): FreqItemsAgg = copy(child = c.head)
  override def prettyName: String = "graft_freq_agg"
}

/** Weighted frequent-items aggregate: each row contributes `item` with
  * count `weight` — bit-identical to feeding the item `weight` times
  * (`ItemsSketch.update(item, count)` is the space-saving algorithm's own
  * weighted form), so the sketch can be built from a `(item, count)`
  * AGGREGATE instead of the exploded per-occurrence corpus. At 100 TB that
  * is the difference between one map-side-combined hash aggregate (vocab
  * rows on the wire) and materializing every word occurrence (~200x the
  * document bytes) just to feed a bounded sketch.
  */
case class FreqWeightedAgg(
    child: Expression,
    weight: Expression,
    maxMapSize: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[org.apache.datasketches.frequencies.ItemsSketch[String]] {
  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")

  override def children: Seq[Expression] = child :: weight :: Nil

  override def checkInputDataTypes(): TypeCheckResult =
    (child.dataType, weight.dataType) match {
      case (org.apache.spark.sql.types.StringType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (t, w) => TypeCheckResult.TypeCheckFailure(
        s"graft_freq_agg_weighted requires (string, bigint) input, got ($t, $w)")
    }

  override def createAggregationBuffer()
      : org.apache.datasketches.frequencies.ItemsSketch[String] =
    new org.apache.datasketches.frequencies.ItemsSketch[String](maxMapSize)

  override def update(
      buf: org.apache.datasketches.frequencies.ItemsSketch[String],
      row: InternalRow)
      : org.apache.datasketches.frequencies.ItemsSketch[String] = {
    val v = child.eval(row)
    val w = weight.eval(row)
    if (v != null && w != null) buf.update(v.toString, w.asInstanceOf[Long])
    buf
  }

  override def merge(
      a: org.apache.datasketches.frequencies.ItemsSketch[String],
      b: org.apache.datasketches.frequencies.ItemsSketch[String])
      : org.apache.datasketches.frequencies.ItemsSketch[String] = {
    a.merge(b); a
  }

  override def eval(
      buf: org.apache.datasketches.frequencies.ItemsSketch[String]): Any =
    serialize(buf)

  override def serialize(
      buf: org.apache.datasketches.frequencies.ItemsSketch[String]): Array[Byte] =
    buf.toByteArray(SketchAggs.stringSerDe)
  override def deserialize(bytes: Array[Byte])
      : org.apache.datasketches.frequencies.ItemsSketch[String] =
    SketchAggs.heapifyFreq(bytes)

  override def withNewMutableAggBufferOffset(o: Int): FreqWeightedAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqWeightedAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): FreqWeightedAgg =
    copy(child = c(0), weight = c(1))
  override def prettyName: String = "graft_freq_agg_weighted"
}

/** Merge of STORED frequent-items sketch bytes — the incremental-view /
  * per-day-rollup composition form ([[KllMergeAgg]]'s stance). Merging
  * into any map size preserves the `lb ≤ true ≤ ub` guarantee (the error
  * budgets ADD); there is no k-downgrade hazard to police here.
  */
case class FreqMergeAgg(
    child: Expression,
    maxMapSize: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[org.apache.datasketches.frequencies.ItemsSketch[String]] {
  require(maxMapSize >= 8 && (maxMapSize & (maxMapSize - 1)) == 0,
    s"maxMapSize must be a power of 2 >= 8, got $maxMapSize")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_freq_merge requires sketch bytes, got $t")
  }

  override def createAggregationBuffer()
      : org.apache.datasketches.frequencies.ItemsSketch[String] =
    new org.apache.datasketches.frequencies.ItemsSketch[String](maxMapSize)

  override def update(
      buf: org.apache.datasketches.frequencies.ItemsSketch[String],
      row: InternalRow)
      : org.apache.datasketches.frequencies.ItemsSketch[String] = {
    val v = child.eval(row)
    if (v != null)
      buf.merge(SketchAggs.heapifyFreq(v.asInstanceOf[Array[Byte]]))
    buf
  }

  override def merge(
      a: org.apache.datasketches.frequencies.ItemsSketch[String],
      b: org.apache.datasketches.frequencies.ItemsSketch[String])
      : org.apache.datasketches.frequencies.ItemsSketch[String] = {
    a.merge(b); a
  }

  override def eval(
      buf: org.apache.datasketches.frequencies.ItemsSketch[String]): Any =
    serialize(buf)

  override def serialize(
      buf: org.apache.datasketches.frequencies.ItemsSketch[String]): Array[Byte] =
    buf.toByteArray(SketchAggs.stringSerDe)
  override def deserialize(bytes: Array[Byte])
      : org.apache.datasketches.frequencies.ItemsSketch[String] =
    SketchAggs.heapifyFreq(bytes)

  override def withNewMutableAggBufferOffset(o: Int): FreqMergeAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqMergeAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): FreqMergeAgg = copy(child = c.head)
  override def prettyName: String = "graft_freq_merge"
}

/** Point-query bounds for one item from frequent-items sketch bytes:
  * `struct<est, lb, ub>`. The bounds are the DETERMINISTIC surface —
  * `lb ≤ true ≤ ub` holds for every merge order, so oracle/law checks
  * belong here, never on raw estimates.
  */
case class FreqItemBounds(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("est", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("lb", LongType, nullable = false),
    org.apache.spark.sql.types.StructField("ub", LongType, nullable = false)))
  override def prettyName: String = "graft_freq_bounds"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, org.apache.spark.sql.types.StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (sketch bytes, string item), got $t")
    }

  override def nullSafeEval(bytes: Any, item: Any): Any = {
    val sk = SketchAggs.heapifyFreq(bytes.asInstanceOf[Array[Byte]])
    val s = item.toString
    InternalRow(sk.getEstimate(s), sk.getLowerBound(s), sk.getUpperBound(s))
  }

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): FreqItemBounds = copy(left = l, right = r)
}

/** Top frequent items from sketch bytes, NO_FALSE_NEGATIVES (every true
  * heavy hitter appears; some light items may too — the dashboard
  * surface). `array<struct<item, est, lb, ub>>`, estimate-descending with
  * an item tiebreak. Estimates are merge-order-dependent; see
  * [[FreqItemBounds]] for the deterministic check surface.
  */
case class FreqTopItems(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("item",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("est", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lb", LongType, nullable = false),
      org.apache.spark.sql.types.StructField("ub", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_freq_top_items"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires sketch bytes, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val sk = SketchAggs.heapifyFreq(input.asInstanceOf[Array[Byte]])
    val rows = sk.getFrequentItems(
      org.apache.datasketches.frequencies.ErrorType.NO_FALSE_NEGATIVES)
      .sortBy(r => (-r.getEstimate, r.getItem))
      .map(r => InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getItem),
        r.getEstimate, r.getLowerBound, r.getUpperBound): Any)
    new GenericArrayData(rows)
  }

  override protected def withNewChildInternal(c: Expression): FreqTopItems =
    copy(child = c)
}
