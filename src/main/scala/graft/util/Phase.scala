package graft.util

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The engine's one tracing facility: driver-side spans over its layers
  * (snapshot/manifest resolution, scan planning, delete application,
  * staged write, footer stats, commit, the ingest and pipeline steps),
  * each tied to the Spark jobs it launched. Off by default; on with
  * `-Dgraft.phase.timing=true` or [[enable]]. Off, [[timed]] costs one
  * volatile read.
  *
  * On, a span
  *   - adds its wall time to a flat per-label ledger ([[snapshot]]: a
  *     nested span's time is also inside its parent's; a chained
  *     lifecycle query shows per-label totals);
  *   - records the innermost label open around it as its parent, and
  *   - sets the Spark local property [[Key]] to its label while it runs.
  * One listener reads [[Key]] from every job start, so each job is
  * attributed to the span that launched it — also from a thread that
  * captured the caller's local properties, as [[Overlap]] does — and
  * [[jobs]] totals them per label. [[measure]] reports the part of a
  * call's wall time that no span covered. */
object Phase {
  /** The Spark local property that carries the innermost open label. */
  val Key = "graft.phase"
  /** Label prefix of jobs launched while tracing was on but outside
    * every span; the short call site of the job's SQL execution (else of
    * the job) follows it. */
  val Unlabelled = "(unlabelled) "

  @volatile private var enabled: Boolean =
    java.lang.Boolean.getBoolean("graft.phase.timing")
  private val sums = new ConcurrentHashMap[String, LongAdder]()
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  private val parents = new ConcurrentHashMap[String, Set[String]]()
  private val coverage = new Coverage

  def enable(): Unit = { enabled = true; context() }
  def disable(): Unit = { enabled = false }
  def isEnabled: Boolean = enabled
  def reset(): Unit = {
    drain()
    sums.clear(); counts.clear(); parents.clear()
    Listener.clear()
  }

  def timed[T](label: String)(f: => T): T = {
    if (!enabled) f
    else {
      val sc = context()
      val parent = if (sc == null) null else sc.getLocalProperty(Key)
      if (parent != null && !parents.getOrDefault(label, Set.empty)(parent))
        parents.merge(label, Set(parent), _ ++ _)
      if (sc != null) sc.setLocalProperty(Key, label)
      val t0 = System.nanoTime()
      coverage.enter(t0)
      try f
      finally {
        val t1 = System.nanoTime()
        coverage.exit(t1)
        if (sc != null) sc.setLocalProperty(Key, parent)
        sums.computeIfAbsent(label, _ => new LongAdder).add(t1 - t0)
        counts.computeIfAbsent(label, _ => new LongAdder).increment()
      }
    }
  }

  /** (label, totalSeconds, invocationCount), descending by time. */
  def snapshot(): Seq[(String, Double, Long)] =
    sums.asScala.toSeq.map { case (k, v) =>
      (k, v.sum() / 1e9, counts.get(k).sum())
    }.sortBy(-_._2)

  /** Spark jobs launched while `label` was the innermost open span
    * (their count, summed job wall and task time, bytes read, written
    * and shuffled), with the labels it was opened under. */
  final case class Jobs(label: String, parents: Set[String], jobs: Long,
      jobSec: Double, taskSec: Double, bytesRead: Long, bytesWritten: Long,
      shuffleBytes: Long)

  /** Every traced label (and every unlabelled call site), descending by
    * job time, once the listener has seen every job that ended so far. */
  def jobs(): Seq[Jobs] = {
    drain()
    val byLabel = Listener.totals()
    (sums.keySet.asScala ++ byLabel.keySet).toSeq.map { l =>
      val t = byLabel.getOrElse(l, new Totals)
      Jobs(l, parents.getOrDefault(l, Set.empty), t.jobs, t.jobMs / 1e3,
        t.taskMs / 1e3, t.read, t.written, t.shuffle)
    }.sortBy(j => (-j.jobSec, j.label))
  }

  /** Runs `f`; returns its result, its wall seconds and the seconds of
    * that wall time during which no span was open (the unattributed
    * remainder). */
  def measure[T](f: => T): (T, Double, Double) = {
    val t0 = System.nanoTime()
    val c0 = coverage.at(t0)
    val r = f
    val t1 = System.nanoTime()
    val covered = coverage.at(t1) - c0
    (r, (t1 - t0) / 1e9, (t1 - t0 - covered) / 1e9)
  }

  /** The union length of possibly overlapping, possibly concurrent
    * spans, kept as a running total of the time at least one was open —
    * O(1) state however many spans a run opens (times in ns). */
  private[util] final class Coverage {
    private var open = 0
    private var since = 0L
    private var total = 0L
    def enter(t: Long): Unit = synchronized {
      if (open == 0) since = t
      open += 1
    }
    def exit(t: Long): Unit = synchronized {
      open -= 1
      if (open == 0) total += t - since
    }
    def at(t: Long): Long = synchronized {
      if (open > 0) total + t - since else total
    }
  }

  // ---- job attribution ----

  @volatile private var registeredOn: SparkContext = _

  /** The current session's context, with the listener registered on it
    * (once per context). Null outside any session. */
  private def context(): SparkContext = {
    val sc = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).map(_.sparkContext).orNull
    if (sc != null && (sc ne registeredOn)) synchronized {
      if (sc ne registeredOn) {
        sc.addSparkListener(Listener)
        registeredOn = sc
      }
    }
    sc
  }

  /** Blocks until the listener has seen every event posted so far. */
  private def drain(): Unit = {
    val sc = registeredOn
    if (sc != null && !sc.isStopped)
      org.apache.spark.sql.graftglue.GraftSqlGlue.drainListenerBus(sc)
  }

  private final class Totals {
    var jobs = 0L; var jobMs = 0L; var taskMs = 0L
    var read = 0L; var written = 0L; var shuffle = 0L
  }

  private object Listener extends SparkListener {
    private val open = mutable.HashMap.empty[Int, (String, Long)] // label, start
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val done = mutable.HashMap.empty[String, Totals]
    // open SQL executions' call sites, to name unlabelled jobs: adaptive
    // execution submits a stage's job from a pool thread, whose own call
    // site names no program frame
    private val execSite = mutable.HashMap.empty[String, String]

    def clear(): Unit = synchronized { done.clear() }
    def totals(): Map[String, Totals] = synchronized(done.toMap)
    private def totalsOf(job: Int): Option[Totals] =
      open.get(job).map(j => done.getOrElseUpdate(j._1, new Totals))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if enabled => synchronized {
        execSite(s.executionId.toString) = s.description
      }
      case s: SparkListenerSQLExecutionEnd => synchronized {
        execSite.remove(s.executionId.toString)
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val label = prop(Key).orElse(Option.when(enabled)(Unlabelled +
        prop("spark.sql.execution.id").flatMap(id => synchronized(
          execSite.get(id))).orElse(prop("callSite.short"))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(_.name))
          .getOrElse("?")))
      label.foreach { l => synchronized {
        open(e.jobId) = (l, e.time)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }}
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        stageJob.get(e.stageId).flatMap(totalsOf).foreach { t =>
          t.taskMs += m.executorRunTime
          t.read += m.inputMetrics.bytesRead
          t.written += m.outputMetrics.bytesWritten
          t.shuffle += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      totalsOf(e.jobId).foreach { t =>
        t.jobs += 1
        t.jobMs += e.time - open(e.jobId)._2
      }
      open.remove(e.jobId)
      stageJob.filterInPlace((_, id) => id != e.jobId)
    }
  }
}
