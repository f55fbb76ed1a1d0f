package graft.plans

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** Laws for the snap materialization-mode knob ([[Snap]]): under every
  * mode the snapped frame's values equal the input's, release does not
  * break an already-materialized consumer, and the default mode is the
  * pre-knob `localCheckpoint` behavior (bench unchanged).
  */
class SnapSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def input = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    .toDF("id", "s").filter(col("id") > 0)

  private def withMode[A](m: Option[String])(f: => A): A = {
    val prev = spark.conf.getOption(Snap.ModeKey)
    m match {
      case Some(v) => spark.conf.set(Snap.ModeKey, v)
      case None => spark.conf.unset(Snap.ModeKey)
    }
    try f
    finally {
      prev match {
        case Some(v) => spark.conf.set(Snap.ModeKey, v)
        case None => spark.conf.unset(Snap.ModeKey)
      }
    }
  }

  test("default mode is local: plan root is the checkpoint's LogicalRDD") {
    withMode(None) {
      val s = Snap.snap(input)
      assert(s.queryExecution.analyzed
        .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
        "default snap must be the pre-knob localCheckpoint behavior")
      assert(s.orderBy("id").collect().toSeq ===
        input.orderBy("id").collect().toSeq)
      Snap.release(s)
    }
  }

  test("persist mode: values identical, lineage kept (recomputable)") {
    withMode(Some("persist")) {
      val s = Snap.snap(input)
      assert(s.orderBy("id").collect().toSeq ===
        input.orderBy("id").collect().toSeq)
      Snap.release(s)
      // lineage KEPT: the frame recomputes after release — the
      // executor-loss contract the persist mode exists for
      assert(s.count() === 3L)
    }
  }

  test("reliable mode: values identical through the checkpoint dir") {
    val dir = java.nio.file.Files.createTempDirectory("snap_reliable")
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir.toFile)
    }
    spark.sparkContext.setCheckpointDir(dir.toString)
    withMode(Some("reliable")) {
      val s = Snap.snap(input)
      assert(s.orderBy("id").collect().toSeq ===
        input.orderBy("id").collect().toSeq)
      Snap.release(s) // no-op by contract
      assert(s.count() === 3L)
    }
  }

  test("release follows the frame, not a conf changed since the snap") {
    val s = withMode(Some("persist"))(Snap.snap(input))
    assert(s.storageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    withMode(Some("local")) {
      Snap.release(s)
      assert(s.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    }
  }

  test("unknown mode fails loudly") {
    withMode(Some("nope")) {
      intercept[IllegalArgumentException](Snap.snap(input))
    }
  }
}
