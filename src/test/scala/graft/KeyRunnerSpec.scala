package graft

import org.scalatest.funsuite.AnyFunSuite

/** The key selector `Bench` (`SPARK_GRAFT_ONLY`), `Verify` (third
  * argument) and `Probe` share.
  */
class KeyRunnerSpec extends AnyFunSuite {

  private val all = SparkEntry.registry.map(_.name)

  test("absent or blank selects every key in registry order") {
    assert(KeyRunner.select(None) === all)
    assert(KeyRunner.select(Some(" ")) === all)
  }

  test("named keys come back in registry order, blanks ignored") {
    val Seq(a, b) = Seq(all(3), all(1))
    assert(KeyRunner.select(Some(s" $a,,$b ")) === Seq(b, a))
  }

  test("an unknown name throws IllegalArgumentException naming it") {
    val e = intercept[IllegalArgumentException](
      KeyRunner.select(Some(s"${all.head},q_tpyo")))
    assert(e.getMessage.contains("q_tpyo"))
    assert(!e.getMessage.contains(all.head))
  }
}
