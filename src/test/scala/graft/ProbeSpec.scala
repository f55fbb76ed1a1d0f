package graft

import java.nio.file.{Files, Paths}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `Probe --replicate`'s data preparation: an ×N copy of a testdata
  * directory with distinct ids in the two replicated tables and every
  * other table copied byte for byte.
  */
class ProbeSpec extends AnyFunSuite with SparkFixture {

  test("replicate x3: documents and embeddings triple with distinct ids") {
    val src = sf("sf0.001")
    val to = Files.createTempDirectory("probe_rep").resolve("sf_x3")
    try {
      Probe.replicate(spark, src, 3, to)
      def t(dir: String, name: String) = graft.query.Tables(spark, dir, name)
      for ((name, id) <- Seq("documents" -> "doc_id", "embeddings" -> "vec_id")) {
        val base = t(src, name)
        val rep = t(to.toString, name)
        assert(rep.schema === base.schema, name)
        assert(rep.count() === 3 * base.count(), name)
        assert(rep.select(id).distinct().count() === rep.count(), name)
      }
      val docs = t(to.toString, "documents")
      assert(docs.filter(col("doc_id") >= 2000000L)
        .filter(!col("text").startsWith("copy2 ")).isEmpty)
      val emb0 = t(src, "embeddings").select(col("vec_id"),
        element_at(col("embedding"), 1).as("x"))
      val emb2 = t(to.toString, "embeddings")
        .filter(col("vec_id") >= 2000000L)
        .select((col("vec_id") - 2000000L).as("vec_id"),
          element_at(col("embedding"), 1).as("x2"))
      assert(emb0.join(emb2, "vec_id")
        .filter(abs(col("x2") - col("x") - 0.74) > 1e-4).isEmpty)
      for (name <- Seq("events", "lineitem", "nation")) {
        val f = s"$name.parquet"
        assert(FileUtils.contentEquals(Paths.get(src, f).toFile,
          to.resolve(f).toFile), name)
      }
    } finally FileUtils.deleteDirectory(to.getParent.toFile)
  }
}
