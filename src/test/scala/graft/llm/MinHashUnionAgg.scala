package graft.llm

/** Reference twin of [[TextOps.perSourceSig]]: per-group MinHash-union
  * signature as a typed `Aggregator` — the elementwise min of member
  * signatures IS the minhash signature of the union of the members'
  * shingle sets, so group-level signatures compose from row-level ones
  * with a fixed-size buffer (nPerm longs, associative + commutative:
  * partial-aggregates map-side like any sum).
  *
  * The contamination path does not use it: [[TextOps.perSourceSig]]
  * computes the identical values from single-hash signatures inside
  * whole-stage codegen. It is kept as the plain, obviously-correct form
  * of the union that TextOpsSpec pins the codegen path to, bit for bit.
  */
class MinHashUnionAgg(nPerm: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      (String, Seq[Long]), Array[Long], Array[Long]] {
  import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
  override def zero: Array[Long] = Array.fill(nPerm)(Long.MaxValue)
  override def reduce(b: Array[Long], row: (String, Seq[Long])): Array[Long] = {
    val sig = row._2
    var i = 0
    while (i < nPerm && i < sig.size) {
      if (sig(i) < b(i)) b(i) = sig(i)
      i += 1
    }
    b
  }
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < nPerm) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
    a
  }
  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    ExpressionEncoder()
  override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
    ExpressionEncoder()
}
