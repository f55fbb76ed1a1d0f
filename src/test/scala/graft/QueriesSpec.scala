package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Registry-level invariants: every declared query runs on sf0.001 and
  * produces rows; names stay aligned with the oracle map; entry smoke.
  * (Value-level correctness is the driver's DuckDB pass — locally run
  * `tools/check.py`.)
  */
class QueriesSpec extends AnyFunSuite with SparkFixture {

  test("every oracle key is a declared query") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("every declared query has an oracle (no silent rows-only downgrade)") {
    // the driver records a weaker rows-only check for keys missing from
    // oracleSql — this engine's contract is the FULL hash compare for
    // every key, so a missing oracle is a regression, not an option
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"keys without an oracle: $missing")
  }

  test("registry names are unique") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("a storage key reads what its directory holds now, not an earlier build") {
    // q_csv_roundtrip writes the orders it reads to a CSV store of its own;
    // after the directory's orders change, the next call must see them
    val key = SparkEntry.queries("q_csv_roundtrip")
    def copySf(): String = {
      val to = tmpDir("sf_copy")
      val files = Files.list(Paths.get(sf("sf0.001")))
      try files.iterator.asScala.foreach(f =>
        Files.copy(f, Paths.get(to).resolve(f.getFileName)))
      finally files.close()
      to
    }
    def keepEvenOrders(dir: String): Unit = {
      Files.delete(Paths.get(dir, "orders.parquet"))
      spark.read.parquet(s"${sf("sf0.001")}/orders.parquet")
        .filter("o_orderkey % 2 = 0")
        .write.parquet(s"$dir/orders.parquet")
    }
    val dir = copySf()
    val before = key(spark, dir).collect().toSeq
    keepEvenOrders(dir)
    val after = key(spark, dir).collect().toSeq
    val fresh = copySf()
    keepEvenOrders(fresh)
    val expected = key(spark, fresh).collect().toSeq
    assert(expected != before, "the filter must change the checksum")
    assert(after == expected)
  }

  for (q <- SparkEntry.registry) {
    test(s"${q.name} runs and returns rows on sf0.001") {
      val df = q.fn(spark, sf("sf0.001"))
      assert(df.count() > 0, s"${q.name} returned 0 rows")
    }
  }
}
