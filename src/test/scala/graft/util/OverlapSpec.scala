package graft.util

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The driver-side overlap helper: the background side never outlives
  * the call (joined on success AND on failure), failures on either side
  * surface, and background jobs run under the caller's local properties.
  * Latch-driven: no sleeps decide an outcome. */
class OverlapSpec extends SparkSpec {

  test("a failing foreground rethrows only after the background " +
      "finished; the background's error rides along as suppressed") {
    val bgStarted = new CountDownLatch(1)
    val gate = new CountDownLatch(1)
    val resumed = new CountDownLatch(1)
    val events = new ConcurrentLinkedQueue[String]()
    val caller = new Thread(() => {
      try Overlap(spark) {
        bgStarted.countDown()
        gate.await()
        events.add("background done")
        throw new IllegalStateException("background failed")
      } {
        bgStarted.await()
        throw new IllegalArgumentException("foreground failed")
      }
      catch { case e: IllegalArgumentException =>
        events.add("caller resumed")
        e.getSuppressed.foreach(s => events.add(s.getMessage))
      }
      resumed.countDown()
    })
    caller.start()
    bgStarted.await()
    // the gate opens either when the caller (wrongly) resumed while the
    // background is parked, or after a bounded wait; only the ORDER of
    // the recorded events decides the outcome
    resumed.await(2, TimeUnit.SECONDS)
    gate.countDown()
    caller.join()
    assert(events.asScala.toSeq === Seq("background done",
      "caller resumed", "background failed"))
  }

  test("a background failure surfaces after the foreground completed") {
    val fgDone = new CountDownLatch(1)
    val e = intercept[IllegalStateException](Overlap(spark) {
      fgDone.await()
      throw new IllegalStateException("background failed")
    } { fgDone.countDown(); 1 })
    assert(e.getMessage === "background failed")
    assert(Overlap(spark)("b")(2) === (("b", 2)))
  }

  test("the background runs under the caller's CURRENT local " +
      "properties, and its jobs carry the caller's job group") {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).foreach(groups.add)
    }
    sc.addSparkListener(l)
    try {
      // pooled threads are reused: each call must see the properties
      // set at ITS submit time, not the ones a thread started with
      val seen = Seq("g1", "g2").map { g =>
        sc.setJobGroup(g, "overlap spec")
        sc.setLocalProperty("graft.overlap.probe", g)
        val (bg, _) = Overlap(spark) {
          spark.range(10).count()
          sc.getLocalProperty("graft.overlap.probe")
        }(())
        bg
      }
      assert(seen === Seq("g1", "g2"))
      org.apache.spark.sql.graftglue.GraftSqlGlue.drainListenerBus(sc)
      assert(groups.asScala.toSet === Set("g1", "g2"))
    } finally {
      sc.removeSparkListener(l)
      sc.clearJobGroup()
      sc.setLocalProperty("graft.overlap.probe", null)
    }
  }
}
