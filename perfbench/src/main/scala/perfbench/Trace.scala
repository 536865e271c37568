package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * benchmark spans and Spark listener event times share one axis. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** A benchmark-side span around one public call. `unit` names the batch or
  * read op it belongs to; `parent` is the enclosing span's name. */
final case class Span(name: String, parent: String, unit: String,
    start: Double, end: Double)

/** Spans recorded on the benchmark's own thread while `on` is set. */
final class Spans {
  @volatile var on = false
  val all = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[String]

  def apply[T](name: String, unit: String)(f: => T): T =
    if (!on) f
    else {
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      val t0 = Clock.nowMs
      try f
      finally {
        all += Span(name, parent, unit, t0, Clock.nowMs)
        stack = stack.tail
      }
    }

  def of(unit: String): Seq[Span] = all.filter(_.unit == unit).toSeq
}

/** One Spark job as the listener saw it. `site` is the call site's short
  * form, `file` the program file of the innermost graft frame that
  * launched it, `layer` the medallion layer its call stack names and
  * `batchId` the streaming micro-batch. */
final case class JobRec(id: Int, start: Double, end: Double, site: String,
    file: String, layer: String, batchId: Option[Long], taskMs: Long,
    shuffleBytes: Long, bytesRead: Long, bytesWritten: Long)

object JobRec {
  private val GraftFrame = """graft\.[\w.$]+\((\w+\.scala):\d+\)""".r

  def fileOf(longSite: String): String =
    GraftFrame.findFirstMatchIn(longSite).map(_.group(1)).getOrElse("")
}

/** Spark listener. Always counts task output bytes (an end-to-end metric);
  * keeps per-job records only for jobs that start while `recording`.
  *
  * A job's layer is the first of `layers` (name, table location) whose
  * location its SQL execution's physical plan names. Streaming jobs need
  * this: their call sites carry the micro-batch description, not the
  * program frames that launched them. */
final class JobRecorder(layers: Seq[(String, String)]) extends SparkListener {
  @volatile var recording = false
  private val written = new java.util.concurrent.atomic.AtomicLong
  private case class Open(start: Double, site: String, file: String,
      layer: String,
      batchId: Option[Long], var taskMs: Long = 0, var shuffle: Long = 0,
      var read: Long = 0, var written: Long = 0)
  private val open = mutable.HashMap.empty[Int, Open]
  // SQL execution id → (short call site, long call site, layer) of the
  // action that started it; jobs that adaptive execution submits from
  // pool threads carry no program frames of their own
  private val execSite = mutable.HashMap.empty[Long, (String, String, String)]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val done = mutable.ArrayBuffer.empty[JobRec]

  def bytesWritten: Long = written.get()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if recording =>
      val layer = layers.find { case (_, loc) =>
        s.physicalPlanDescription.contains(loc) }.map(_._1).getOrElse("")
      synchronized {
        execSite(s.executionId) = (s.description, s.details, layer)
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val result = e.stageInfos.maxBy(_.stageId)
    synchronized {
      val (short, long, layer) = prop("spark.sql.execution.id")
        .flatMap(id => execSite.get(id.toLong))
        .getOrElse((prop("callSite.short").getOrElse(result.name),
          prop("callSite.long").getOrElse(result.details), ""))
      open(e.jobId) = Open(e.time.toDouble, short, JobRec.fileOf(long), layer,
        prop("streaming.sql.batchId").map(_.toLong))
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      written.addAndGet(m.outputMetrics.bytesWritten)
      synchronized {
        stageJob.get(e.stageId).flatMap(open.get).foreach { j =>
          j.taskMs += m.executorRunTime
          j.shuffle += m.shuffleWriteMetrics.bytesWritten
          j.read += m.inputMetrics.bytesRead
          j.written += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { j =>
      done += JobRec(e.jobId, j.start, e.time.toDouble, j.site, j.file,
        j.layer, j.batchId, j.taskMs, j.shuffle, j.read, j.written)
    }
  }

  /** Finished recorded jobs that started inside [t0, t1]. */
  def jobsIn(t0: Double, t1: Double): Seq[JobRec] = synchronized {
    done.filter(j => j.start >= t0 - 1 && j.start <= t1).toSeq
  }

  def all: Seq[JobRec] = synchronized(done.toSeq)
}

/** `StreamingQueryProgress.durationMs` per micro-batch. */
final class ProgressRecorder extends StreamingQueryListener {
  val byBatch = new java.util.concurrent.ConcurrentHashMap[Long, Map[String, Long]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    if (p.numInputRows > 0)
      byBatch.put(p.batchId, p.durationMs.asScala.map { case (k, v) =>
        (k, v.longValue) }.toMap)
  }
}

/** Interval arithmetic for attributing a span's time. */
object Intervals {
  /** Total length of the union of `xs` clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}
