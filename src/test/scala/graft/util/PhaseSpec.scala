package graft.util

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftglue.GraftSqlGlue

import graft.SparkSpec

/** The tracing facility: spans attribute the Spark jobs they launch
  * (through the `graft.phase` local property, which [[Overlap]]'s
  * background side captures), nested spans record their parent while
  * the flat ledger keeps per-label wall sums, tracing off leaves no
  * trace, and the unattributed remainder is wall time minus the union
  * of the spans. */
class PhaseSpec extends SparkSpec {

  /** Runs `f` traced from a clean ledger; tracing is off again after.
    * The session exists first: a span finds it when it opens. */
  private def traced[T](f: => T): T = {
    spark
    Phase.enable()
    Phase.reset()
    try f
    finally { Phase.disable(); Phase.reset() }
  }

  private def byLabel: Map[String, Phase.Jobs] =
    Phase.jobs().map(j => j.label -> j).toMap

  test("a span's jobs are attributed to it, also those launched on " +
      "Overlap's background side") {
    traced {
      Phase.timed("x")(spark.range(100).selectExpr("sum(id)").collect())
      Phase.timed("y")(Overlap(spark)(spark.range(50).count())(
        Phase.timed("fg")(spark.range(70).count())))
      val jobs = byLabel
      assert(jobs("x").jobs >= 1)
      assert(jobs("x").taskSec >= 0 && jobs("x").jobSec > 0)
      // the background side ran under the caller's open label
      assert(jobs("y").jobs >= 1)
      assert(jobs("fg").jobs >= 1 && jobs("fg").parents === Set("y"))
      assert(!jobs.keys.exists(_.startsWith(Phase.Unlabelled)),
        jobs.keys.toSeq.sorted.mkString(", "))
    }
  }

  test("a nested label records its parent; snapshot() keeps flat " +
      "per-label wall sums") {
    val sc = spark.sparkContext
    traced {
      Phase.timed("outer") {
        Phase.timed("inner")(Thread.sleep(30))
        assert(sc.getLocalProperty(Phase.Key) === "outer")
        Thread.sleep(30)
      }
      Phase.timed("inner")(())
      assert(sc.getLocalProperty(Phase.Key) === null)
      val flat = Phase.snapshot().map { case (l, s, n) => l -> (s, n) }.toMap
      assert(flat.keySet === Set("outer", "inner"))
      assert(flat("inner")._2 === 2 && flat("outer")._2 === 1)
      // the outer sum includes the inner span's time
      assert(flat("outer")._1 >= flat("inner")._1 + 0.03)
      val jobs = byLabel
      assert(jobs("inner").parents === Set("outer"))
      assert(jobs("outer").parents.isEmpty)
    }
  }

  test("tracing off: no graft.phase property is set and the listener " +
      "records nothing") {
    val sc = spark.sparkContext
    val props = new ConcurrentLinkedQueue[String]()
    val probe = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        props.add(String.valueOf(e.properties.getProperty(Phase.Key)))
    }
    // a traced run first, so the listener is registered
    traced(Phase.timed("on")(spark.range(10).count()))
    sc.addSparkListener(probe)
    try {
      Phase.timed("off") {
        assert(sc.getLocalProperty(Phase.Key) === null)
        spark.range(10).count()
      }
      GraftSqlGlue.drainListenerBus(sc)
      assert(props.asScala.nonEmpty && props.asScala.forall(_ == "null"))
      assert(Phase.jobs().isEmpty && Phase.snapshot().isEmpty)
    } finally sc.removeSparkListener(probe)
  }

  test("the unattributed remainder is wall time minus the span union") {
    // a synthetic timeline: overlapping, nested and disjoint spans, one
    // still open at the window's end; window [1, 45]
    val spans = Seq((0L, 10L), (2L, 5L), (8L, 14L), (20L, 25L),
      (22L, 23L), (40L, 50L))
    val (lo, hi) = (1L, 45L)
    val union = (lo until hi).count(t => spans.exists { case (a, b) =>
      a <= t && t < b })
    assert(union === 23)
    val c = new Phase.Coverage
    val events = spans.flatMap { case (a, b) => Seq((a, 1), (b, -1)) } ++
      Seq((lo, 0), (hi, 0))
    val at = events.sortBy { case (t, kind) => (t, kind) }.flatMap {
      case (t, 1) => c.enter(t); None
      case (t, -1) => c.exit(t); None
      case (t, _) => Some(c.at(t))
    }
    assert((hi - lo) - (at(1) - at(0)) === (hi - lo) - union)

    // and on the clock: time inside a span is covered, time outside is
    // the remainder
    traced {
      val (_, wall, unattributed) = Phase.measure {
        Phase.timed("a")(Thread.sleep(50))
        Thread.sleep(50)
      }
      assert(unattributed >= 0.05 && wall - unattributed >= 0.05)
    }
  }
}
