package graft.llm

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Laws for the exact-substring dedup ([[SubstringDedup.clean]]) on
  * planted inputs — the DuckDB oracle proves cross-engine equality on the
  * fixture corpus; these pin the SEMANTICS on cases the fixture may not
  * isolate: first-occurrence survival, in-document repetition, overlap
  * union, and the under-k passthrough.
  */
class SubstringDedupSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def cleanMap(docs: Seq[(Long, String)], k: Int): Map[Long, String] =
    SubstringDedup.clean(docs.toDF("doc_id", "text"), k)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap

  test("cross-doc duplicate span: first doc keeps it, later doc loses it") {
    val span = "one two three four"
    val out = cleanMap(Seq(
      0L -> s"$span tail0",
      1L -> s"head1 $span",
      2L -> "totally different words here now"), k = 4)
    assert(out(0L) == s"$span tail0")
    assert(out(1L) == "head1")
    assert(out(2L) == "totally different words here now")
  }

  test("in-document repetition is cut after the first occurrence") {
    // "a b c d" occurs at pos 0 and pos 4 of the same doc
    val out = cleanMap(Seq(0L -> "a b c d a b c d"), k = 4)
    assert(out(0L) == "a b c d")
  }

  test("overlapping non-canonical spans union instead of double-cutting") {
    // doc 1 repeats doc 0's 5-token run; with k=4 BOTH its windows
    // (pos 0 and pos 1) are duplicated — the cut set is the union of the
    // two overlapping spans, i.e. all 5 tokens, exactly once
    val out = cleanMap(Seq(
      0L -> "p q r s t x",
      1L -> "p q r s t y"), k = 4)
    assert(out(0L) == "p q r s t x")
    assert(out(1L) == "y")
  }

  test("docs shorter than k tokens pass through untouched") {
    val out = cleanMap(Seq(0L -> "a b c", 1L -> "a b c"), k = 4)
    assert(out(0L) == "a b c" && out(1L) == "a b c")
  }

  test("DropIndices kernel == the O(len x cuts) HOF filter it replaced") {
    import org.apache.spark.sql.functions._
    val rows = Seq(
      (0L, "a b c d e f g h", Seq(0, 3, 4, 7)),
      (1L, "a b c", Seq[Int]()),
      (2L, "x y", Seq(0, 1)),
      (3L, "k l m n", Seq(2, 99)) // out-of-range entries ignored
    ).toDF("doc_id", "text", "cutpos")
    val ws = split(col("text"), " ")
    val kernel = graft.functions.DropIndices.dropIndices(ws, col("cutpos"))
    val hof = filter(ws, (_, i) => !array_contains(col("cutpos"), i))
    val bad = rows.select(col("doc_id"), kernel.as("a"), hof.as("b"))
      .filter(not(col("a") === col("b")))
    assert(bad.isEmpty, bad.collect().mkString(", "))
  }

  test("DropIndices throws on an unsorted index array instead of silently " +
    "dropping the wrong elements (it is the public graft_drop_indices)") {
    import org.apache.spark.sql.functions._
    val rows = Seq((0L, "a b c d", Seq(3, 1))).toDF("doc_id", "text", "cutpos")
    val e = intercept[Exception] {
      rows.select(graft.functions.DropIndices.dropIndices(
        split(col("text"), " "), col("cutpos"))).collect()
    }
    // the root cause surfaces through Spark's task-failure wrapping
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      String.valueOf(c.getMessage).contains("sorted ascending")),
      s"unexpected failure: $e")
    // sort_array at the call site restores the documented contract
    val ok = rows.select(graft.functions.DropIndices.dropIndices(
        split(col("text"), " "), sort_array(col("cutpos"))).as("r"))
      .head().getSeq[String](0)
    assert(ok == Seq("a", "c"))
  }
}
