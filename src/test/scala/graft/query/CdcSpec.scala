package graft.query

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** S14 snapshot diff laws. */
class CdcSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def snap(rows: (Long, String, Option[Double])*) =
    rows.toDF("id", "status", "score")

  test("identical snapshots diff to the empty set") {
    val a = snap((1L, "a", Some(1.0)), (2L, "b", None))
    assert(Cdc.snapshotDiff(a, a, Seq("id")).count() === 0)
  }

  test("added / removed / changed are each detected, null-safely") {
    val a = snap((1L, "a", Some(1.0)), (2L, "b", None), (3L, "c", Some(3.0)))
    val b = snap((1L, "a", Some(1.0)),          // unchanged
      (2L, "b", Some(2.0)),                     // null -> value: changed
      (4L, "d", None))                          // 3 removed, 4 added
    val d = Cdc.snapshotDiff(a, b, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
  }

  test("value flipping TO null is a change (not equality)") {
    val a = snap((1L, "a", Some(1.0)))
    val b = snap((1L, "a", None))
    val d = Cdc.snapshotDiff(a, b, Seq("id")).collect()
    assert(d.length === 1 && d.head.getString(1) === "changed")
  }

  test("diff is anti-symmetric: added and removed swap under direction") {
    val a = snap((1L, "a", Some(1.0)))
    val b = snap((2L, "b", Some(2.0)))
    val ab = Cdc.snapshotDiff(a, b, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val ba = Cdc.snapshotDiff(b, a, Seq("id"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ab === Map(2L -> "added", 1L -> "removed"))
    assert(ba === Map(1L -> "added", 2L -> "removed"))
  }

  test("schema mismatch and key-only schemas are rejected") {
    val a = snap((1L, "a", Some(1.0)))
    intercept[IllegalArgumentException] {
      Cdc.snapshotDiff(a, a.select("id", "status"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      val k = a.select("id")
      Cdc.snapshotDiff(k, k, Seq("id"))
    }
  }
}
