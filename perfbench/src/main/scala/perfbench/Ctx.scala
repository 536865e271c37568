package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.table.GraftTable
import graft.util.Phase

final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, dir: String, cores: Int, history: Int)

/** One CDC batch: from the file landing to gold committed. */
final class BatchRec(val id: Int, val traced: Boolean, val land: Double,
    val rows: Long, val bytes: Long) {
  var end = 0.0
  var phase = Map.empty[String, Double]
  // tombstone state around the batch, recorded in traced runs
  var liveDeletesBefore = -1
  var folded = false
  def latency: Double = (end - land) / 1000
}

/** One consumer read op. */
final class ReadRec(val id: Int, val op: String, val traced: Boolean) {
  var start = 0.0
  var end = 0.0
  var manifestParses = 0L
  var filesScanned = 0L
  var rowsScanned = 0L
  var rowsReturned = 0L
  def latency: Double = (end - start) / 1000
}

/** What one run shares: the session, the listeners, the samples and the
  * correctness log. Tracing (spans, job records, the Phase ledger) is
  * switched per unit, so a traced run interleaves traced and untraced
  * units and measures its own overhead. */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  val spans = new Spans
  // most specific first: gold maintenance also reads silver, and the
  // silver merge also names the micro-batch bronze receives
  val jobs = new JobRecorder(Seq("gold", "silver", "bronze").map(t =>
    (t, s"${opts.dir}/$t")))
  val progress = new ProgressRecorder
  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(progress)

  val batches = mutable.ArrayBuffer.empty[BatchRec]
  val reads = mutable.ArrayBuffer.empty[ReadRec]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  // raw TSV bytes landed over the whole run, and the window the
  // written-bytes ratio is taken over
  var inputBytesTotal = 0L
  var ratioInputBytes = 0L
  var ratioWrittenBytes = 0L

  // where set-up time went, and the end-of-run checks', printed beside setup_s
  val setupParts = mutable.ArrayBuffer.empty[(String, Double)]

  def setupPart[T](name: String)(f: => T): T = {
    val t0 = Clock.nowMs
    try f finally setupParts += ((name, (Clock.nowMs - t0) / 1000))
  }

  /** One correctness check; a failure is counted and printed. */
  def check(what: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      val msg = s"$what: $detail"
      failures += msg
      System.err.println(s"[perfbench] MISMATCH $msg")
    }
  }

  /** An operation that threw counts as attempted and failed. */
  def failedOp(what: String, e: Throwable): Unit = {
    attempted += 1
    failed += 1
    failures += s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"
    System.err.println(s"[perfbench] FAILED $what")
    e.printStackTrace()
  }

  /** Task output bytes so far, once the listener bus has delivered every
    * event posted before the call, so a window's bytes are its own. */
  def writtenBytesNow(): Long = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    jobs.bytesWritten
  }

  def traceUnit(on: Boolean): Unit = {
    spans.on = on
    jobs.recording = on
    if (on) Phase.enable() else Phase.disable()
  }

  private def phaseNow: Map[String, Double] =
    Phase.snapshot().map { case (k, s, _) => (k, s) }.toMap

  /** Land one file (returns its bytes), then time `process` from the
    * moment it is visible until it returns (gold committed). */
  def batch(id: Int, traced: Boolean, rows: Long)(land: => Long)(
      process: String => Unit): BatchRec = {
    val unit = s"b$id"
    val p0 = if (traced) phaseNow else Map.empty[String, Double]
    val bytes = land
    inputBytesTotal += bytes
    val b = new BatchRec(id, traced, Clock.nowMs, rows, bytes)
    spans("batch", unit)(process(unit))
    b.end = Clock.nowMs
    attempted += 1
    if (traced) {
      val p1 = phaseNow
      b.phase = p1.map { case (k, v) => (k, v - p0.getOrElse(k, 0.0)) }
    }
    batches += b
    b
  }

  /** One consumer read: `build` resolves the table and plans the query
    * (the plan span, which forces the physical plan), then the rows are
    * collected (the exec span). `cold` drops the metadata caches first,
    * as a fresh engine would read. */
  def read(id: Int, op: String, traced: Boolean, cold: Boolean)(
      build: => DataFrame): Array[Row] = {
    val unit = s"r$id"
    val r = new ReadRec(id, op, traced)
    if (cold) GraftTable.clearMetaCaches()
    val parses0 = GraftTable.manifestParses.get()
    r.start = Clock.nowMs
    val (rows, plan) = spans(s"read.$op", unit) {
      val df = spans("plan", unit) {
        val d = build
        d.queryExecution.executedPlan
        d
      }
      (spans("exec", unit)(df.collect()), df.queryExecution.executedPlan)
    }
    r.end = Clock.nowMs
    attempted += 1
    r.manifestParses = GraftTable.manifestParses.get() - parses0
    val scans = Ctx.scans(plan)
    def metric(s: SparkPlan, k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
    r.filesScanned = scans.map(metric(_, "numFiles")).sum
    r.rowsScanned = scans.map(metric(_, "numOutputRows")).sum
    r.rowsReturned = rows.length
    reads += r
    rows
  }
}

object Ctx {
  /** File scans of an executed plan, through adaptive stages and
    * subqueries. */
  def scans(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case s: FileSourceScanExec => Seq(s)
    case other => other.children.flatMap(scans) ++
      other.subqueries.flatMap(scans)
  }
}
