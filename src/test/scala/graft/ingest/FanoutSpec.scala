package graft.ingest

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkFixture

/** `Fanout`'s contract, checked on the fan-out alone: task-order results,
  * return only after every task, first-failure rethrow with the rest
  * suppressed, the caller's local properties on every task, and the
  * `tick:<phase>:<name>` job description.
  */
class FanoutSpec extends AnyFunSuite with SparkFixture {

  private def sleepy[T](ms: Long, v: T): () => T = () => { Thread.sleep(ms); v }

  test("results come back in task order, not finishing order") {
    // the first task finishes last
    val got = Fanout(spark, "order", Seq(
      "a" -> sleepy(300, 1), "b" -> sleepy(100, 2), "c" -> sleepy(0, 3)))
    assert(got === Seq(1, 2, 3))
    assert(Fanout(spark, "none", Seq.empty[(String, () => Int)]).isEmpty)
  }

  test("a failure surfaces only after every task finished; the first " +
    "failure in task order is rethrown with the later ones suppressed") {
    val finished = ConcurrentHashMap.newKeySet[String]()
    def done(name: String, ms: Long): () => Unit =
      () => { Thread.sleep(ms); finished.add(name); () }
    val e = intercept[IllegalStateException] {
      Fanout(spark, "fail", Seq(
        "ok1" -> done("ok1", 300),
        // fails AFTER "second" did: the rethrown one is the first in task
        // order, not the first in time
        "first" -> (() => { Thread.sleep(150); throw new IllegalStateException("first") }),
        "second" -> (() => throw new IllegalArgumentException("second")),
        "ok2" -> done("ok2", 300)))
    }
    assert(e.getMessage === "first")
    assert(e.getSuppressed.toSeq.map(_.getMessage) === Seq("second"))
    assert(finished.asScala.toSet === Set("ok1", "ok2"),
      "the fan-out returned while a sibling was still running")
  }

  test("every task runs under the caller's job group and local properties, " +
    "with its jobs described tick:<phase>:<name>") {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[(String, String, String)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((e.properties.getProperty("spark.job.description"),
          e.properties.getProperty("spark.jobGroup.id"),
          e.properties.getProperty("fanout.spec.tag")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup("fanout-group", "the caller's group")
    sc.setLocalProperty("fanout.spec.tag", "caller")
    sc.setJobDescription("the caller's own description")
    val seen = try {
      val seen = Fanout(spark, "ph", Seq("x", "y", "z").map { n =>
        n -> { () =>
          sc.parallelize(Seq(1, 2), 2).count()
          (sc.getLocalProperty("spark.jobGroup.id"),
            sc.getLocalProperty("fanout.spec.tag"),
            sc.getLocalProperty("spark.job.description"))
        }
      })
      // the caller's own properties are untouched by the fan-out
      assert(sc.getLocalProperty("spark.job.description") ===
        "the caller's own description")
      org.apache.spark.graft.CoreBridge.drainListenerBus(sc)
      seen
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
      sc.setLocalProperty("fanout.spec.tag", null)
      sc.setJobDescription(null)
    }
    assert(seen === Seq("x", "y", "z").map(n =>
      ("fanout-group", "caller", s"tick:ph:$n")))
    assert(jobs.asScala.toSeq.filter(_._1.startsWith("tick:ph:"))
      .sortBy(_._1) === Seq("x", "y", "z").map(n =>
      (s"tick:ph:$n", "fanout-group", "caller")))
  }
}
