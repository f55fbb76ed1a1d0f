package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint for the entry-point design: one session factory and a fixed
  * set of mains. `SparkSession.builder` may appear only in
  * [[LocalSession]], so every entry point runs the same configuration, and
  * `def main` only in the mains the driver and the daemon run (`Bench`,
  * `Verify`, `EntrySmoke`, `Serve`) plus the one dev main, `Probe`. A new
  * dev tool is a `Probe` mode, not another copy of the session setup.
  */
class EntryPointLintSpec extends AnyFunSuite {

  private val root = Paths.get("src", "main", "scala")

  private def sources: Seq[(String, String)] = {
    require(Files.isDirectory(root), s"no sources at ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
      .map((p: Path) => root.relativize(p).toString.replace('\\', '/') ->
        Files.readString(p))
    finally walk.close()
  }

  private def offenders(pattern: String, allowed: Set[String]): Seq[String] =
    sources.collect {
      case (f, text) if pattern.r.findFirstIn(text).isDefined &&
        !allowed(f) => f
    }.sorted

  test("SparkSession.builder appears only in LocalSession") {
    val all = sources
    assert(all.exists(_._1 == "graft/LocalSession.scala"))
    assert(offenders("""SparkSession\s*\.\s*builder""",
      Set("graft/LocalSession.scala")) === Nil)
  }

  test("def main appears only in the driver, daemon and probe entry points") {
    val entryPoints = Set("graft/Bench.scala", "graft/Verify.scala",
      "graft/EntrySmoke.scala", "graft/ingest/Serve.scala", "graft/Probe.scala")
    assert(offenders("""\bdef\s+main\s*\(""", entryPoints) === Nil)
    assert(entryPoints.forall(f => sources.exists(_._1 == f)),
      "an allowed entry point moved; update the list")
  }
}
