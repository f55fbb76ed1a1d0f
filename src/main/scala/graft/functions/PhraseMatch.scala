package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Aho–Corasick multi-phrase automaton over UTF-8 bytes — the blocklist
  * scan's kernel. Built ONCE per plan from the literal phrase list (trie +
  * BFS failure links, the textbook construction); `matchSorted` walks a
  * document's bytes exactly once and reports every phrase that occurs,
  * regardless of how many phrases the list holds.
  *
  * Why not `phrases.map(contains).reduce(or)`: that plan is O(phrases)
  * scans per document — a 10k-phrase blocklist over 100 TB reads the
  * corpus ten thousand times over; the automaton reads it once, with cost
  * O(bytes + matches). Byte-level matching is exact for any UTF-8 input
  * (a multi-byte codepoint can never false-match a phrase boundary — every
  * UTF-8 continuation byte differs from every start byte).
  *
  * Shipped to executors as ONE reference object on the expression node
  * (the PqEncode codebook discipline); transitions are per-node hash maps
  * so memory is O(total phrase bytes), not O(nodes × 256).
  */
final class AhoCorasick(phrases: Seq[String]) extends Serializable {
  require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
    "AhoCorasick needs a nonempty list of nonempty phrases")

  private val nPhrases = phrases.length
  // matched phrases emit in lexicographic order (== DuckDB list_sort on the
  // same list — the oracle-parity contract)
  private val ordered: Array[Int] =
    phrases.zipWithIndex.sortBy(_._1).map(_._2).toArray
  private val utf8: Array[UTF8String] =
    phrases.map(UTF8String.fromString).toArray

  // trie + fail links, flattened to arrays after construction
  private val (gotoMaps, fail, outSets) = {
    import scala.collection.mutable
    val gotos = mutable.ArrayBuffer(mutable.LongMap.empty[Int])
    val outs = mutable.ArrayBuffer(mutable.Set.empty[Int])
    phrases.zipWithIndex.foreach { case (p, pi) =>
      var cur = 0
      val bs = UTF8String.fromString(p).getBytes
      var i = 0
      while (i < bs.length) {
        val k = (bs(i) & 0xff).toLong
        cur = gotos(cur).getOrElse(k, {
          gotos += mutable.LongMap.empty[Int]
          outs += mutable.Set.empty[Int]
          val n = gotos.length - 1
          gotos(cur)(k) = n
          n
        })
        i += 1
      }
      outs(cur) += pi
    }
    val fl = new Array[Int](gotos.length)
    val queue = mutable.Queue.empty[Int]
    gotos(0).foreach { case (_, n) => fl(n) = 0; queue += n }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      gotos(u).foreach { case (k, v) =>
        queue += v
        var f = fl(u)
        while (f != 0 && !gotos(f).contains(k)) f = fl(f)
        val cand = gotos(f).getOrElse(k, 0)
        fl(v) = if (cand == v) 0 else cand
        outs(v) ++= outs(fl(v))
      }
    }
    (gotos.toArray, fl, outs.map(_.toArray.sorted).toArray)
  }

  /** Called from generated code — one pass over the document's bytes;
    * early-exits once every phrase has matched. Returns the matched
    * phrases, lexicographically sorted, distinct.
    */
  def matchSorted(text: UTF8String): ArrayData = {
    val hit = new Array[Boolean](nPhrases)
    var remaining = nPhrases
    var cur = 0
    var i = 0
    val n = text.numBytes()
    while (i < n && remaining > 0) {
      val k = (text.getByte(i) & 0xff).toLong
      while (cur != 0 && !gotoMaps(cur).contains(k)) cur = fail(cur)
      cur = gotoMaps(cur).getOrElse(k, 0)
      val o = outSets(cur)
      var j = 0
      while (j < o.length) {
        if (!hit(o(j))) { hit(o(j)) = true; remaining -= 1 }
        j += 1
      }
      i += 1
    }
    val out = new Array[AnyRef](nPhrases - remaining)
    var w = 0
    var oi = 0
    while (oi < ordered.length) {
      val pi = ordered(oi)
      if (hit(pi)) { out(w) = utf8(pi); w += 1 }
      oi += 1
    }
    new GenericArrayData(out)
  }
}

/** `array<string>` of the blocklist phrases occurring in `child` (substring
  * semantics, case-sensitive, lexicographically sorted, distinct) — one
  * automaton pass per document. Empty array = clean document.
  */
case class MatchPhrases(child: Expression, phrases: Seq[String])
    extends UnaryExpression {
  require(phrases.nonEmpty && phrases.forall(_.nonEmpty),
    "graft_match_phrases needs a nonempty list of nonempty phrases")
  require(phrases.distinct.length == phrases.length,
    "graft_match_phrases: duplicate phrases in the blocklist")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_match_phrases"

  @transient private lazy val ac = new AhoCorasick(phrases)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    ac.matchSorted(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val acRef = ctx.addReferenceObj("ac", ac, classOf[AhoCorasick].getName)
    defineCodeGen(ctx, ev, c => s"$acRef.matchSorted($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MatchPhrases {
  /** Column surface: matched blocklist phrases per document. */
  def matchPhrases(text: Column, phrases: Seq[String]): Column =
    ColumnBridge.column(
      MatchPhrases(ColumnBridge.expression(text), phrases))
}
