package perfbench

import java.nio.file.{Files, Path}

import graft.table.GraftTable

final case class Metric(name: String, unit: String, value: Double)

/** Turns a finished run into its metrics: end-to-end ones from the
  * untraced units, per-layer ones from the traced units (spans, listener
  * jobs, Phase ledger deltas, streaming progress, table state). */
final class Report(ctx: Ctx, workload: Workload, setupS: Double,
    loopS: Double, statsScans: Long) {
  private val opts = ctx.opts
  // silver_read's batches are its set-up history, streamed micro-batches
  private val stream = opts.workload == "silver_read"
  private val allBatches = ctx.batches.toSeq

  // table state and retained heap, read before the session stops
  private val silver: GraftTable = workload.silver
  private val snapshots = silver.snapshots.size.toDouble
  private val liveFiles = silver.liveFiles().size.toDouble
  private val storedBytes = workload.tableDirs.map(Report.duBytes).sum
  private val heapMb = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }

  private val untracedBatches = ctx.batches.toSeq.filterNot(_.traced)
  private val batchLat = untracedBatches.map(_.latency)
  // silver_read's ops differ several-fold and the second pass over an op
  // runs faster than the first, so its sample is the first whole cycle of
  // the mix: every run weighs the same six ops alike
  private val readSample = ctx.reads.toSeq.filter(r => !r.traced &&
    (opts.workload != "silver_read" ||
      (r.id < SilverRead.Ops.size && ctx.reads.size >= SilverRead.Ops.size)))
  private val readLat = readSample.map(_.latency)
  // the gated read figure: each op's median, then their geometric mean, so
  // every op of the mix moves it alike (cdc_batch reads one op)
  private val readGeomean = Stats.geomean(readSample.groupBy(_.op).values
    .map(rs => Stats.median(rs.map(_.latency))).toSeq)

  /** The tails are printed, not gated: a run of BENCHMARK.json's length
    * has fewer than the 20 samples a tail with ten beyond it needs. */
  private def tailLine(name: String, xs: Seq[Double]): String =
    Stats.tail(xs) match {
      case Some((p, v)) => f"  $name%-38s ${fmt(v)}%-24s s  (p${p.toInt} of ${xs.size})"
      case None => f"  $name%-38s ${"-"}%-24s s  (${xs.size} samples: " +
        "no percentile has 10 beyond it)"
    }

  def endToEnd: Seq[Metric] = {
    val rows = untracedBatches.map(_.rows).sum
    Seq(
      Metric("setup_s", "s", setupS),
      Metric("batch_latency_p50_s", "s", Stats.median(batchLat)),
      Metric("rows_per_s", "rows/s", rows / batchLat.sum),
      Metric("read_latency_geomean_s", "s", readGeomean),
      Metric("written_bytes_per_input_byte", "ratio",
        ctx.ratioWrittenBytes.toDouble / ctx.ratioInputBytes),
      Metric("stored_bytes_per_input_byte", "ratio",
        storedBytes.toDouble / ctx.inputBytesTotal),
      Metric("driver_heap_retained_mb", "MB", heapMb))
  }

  // ---- per-unit attribution ----

  private def secs(ms: Double) = ms / 1000

  private def batchLayers(b: BatchRec): Map[String, Double] = {
    val unit = s"b${b.id}"
    val js = ctx.jobs.jobsIn(b.land, b.end)
    val children = ctx.spans.of(unit).filter(_.parent == "batch")
    val jobIv = js.map(j => (j.start, j.end))
    val first = if (js.isEmpty) b.end else js.map(_.start).min
    val discovery = if (stream) math.max(0.0, first - b.land) else 0.0
    def layer(name: String): Double =
      if (stream) secs(Intervals.covered(
        js.filter(_.layer == name).map(j => (j.start, j.end)), b.land, b.end))
      else secs(children.filter(_.name == name).map(s => s.end - s.start).sum)
    def ph(labels: String*): Double = labels.map(b.phase.getOrElse(_, 0.0)).sum
    val ingest = js.filter(_.file == "Ingest.scala")
    val work0 = b.land + discovery
    val batchId = js.flatMap(_.batchId).groupBy(identity)
      .maxByOption(_._2.size).map(_._1)
    val prog = batchId.flatMap(id => Option(ctx.progress.byBatch.get(id)))
      .getOrElse(Map.empty[String, Long])
    def pd(k: String) = prog.getOrElse(k, 0L) / 1000.0
    Map(
      "pipeline.bronze_s" -> layer("bronze"),
      "pipeline.silver_s" -> layer("silver"),
      "pipeline.gold_s" -> layer("gold"),
      "ingest.jobs" -> ingest.size.toDouble,
      "ingest.job_s" -> secs(ingest.map(j => j.end - j.start).sum),
      "merge.rewrite_s" -> ph("merge.stageRewrite"),
      "merge.stage_deletes_s" -> ph("merge.stageDeletes"),
      "merge.key_probe_s" -> ph("merge.keyValues", "merge.keyRange"),
      "table.stage_write_s" -> ph("table.stage.write"),
      "table.commit_s" -> ph(b.phase.keys.filter(k =>
        k.startsWith("table.commit.") || k.startsWith("merge.commit")).toSeq: _*),
      "table.footer_stats_s" -> ph("table.stats.footer"),
      "spark.jobs_per_batch" -> js.size.toDouble,
      "spark.driver_gap_s" -> secs((b.end - work0) -
        Intervals.covered(jobIv, work0, b.end)),
      "spark.task_s" -> secs(js.map(_.taskMs).sum.toDouble),
      "spark.shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
      "spark.bytes_read" -> js.map(_.bytesRead).sum.toDouble,
      "spark.bytes_written" -> js.map(_.bytesWritten).sum.toDouble,
      "streaming.trigger_s" -> pd("triggerExecution"),
      "streaming.add_batch_s" -> pd("addBatch"),
      "streaming.overhead_s" -> (pd("triggerExecution") - pd("addBatch")),
      "streaming.discovery_lag_s" -> secs(discovery),
      "trace.unattributed_s" -> secs((b.end - b.land) - Intervals.covered(
        children.map(s => (s.start, s.end)) ++ jobIv :+ ((b.land, work0)),
        b.land, b.end)))
  }

  private def readLayers(r: ReadRec): Map[String, Double] = {
    val unit = s"r${r.id}"
    val sp = ctx.spans.of(unit)
    val js = ctx.jobs.jobsIn(r.start, r.end)
    def span(n: String) = secs(sp.filter(_.name == n).map(s => s.end - s.start).sum)
    val children = sp.filter(s => s.name == "plan" || s.name == "exec")
    Map(
      "plan_s" -> span("plan"),
      "exec_s" -> span("exec"),
      "jobs" -> js.size.toDouble,
      "unattributed_s" -> secs((r.end - r.start) - Intervals.covered(
        children.map(s => (s.start, s.end)) ++ js.map(j => (j.start, j.end)),
        r.start, r.end)),
      "spark.driver_gap_s" -> secs((r.end - r.start) -
        Intervals.covered(js.map(j => (j.start, j.end)), r.start, r.end)),
      "spark.task_s" -> secs(js.map(_.taskMs).sum.toDouble),
      "spark.shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
      "spark.bytes_read" -> js.map(_.bytesRead).sum.toDouble,
      "spark.bytes_written" -> js.map(_.bytesWritten).sum.toDouble)
  }

  private def med(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  lazy val perLayer: Seq[Metric] = {
    val tb = allBatches.filter(_.traced)
    val tr = ctx.reads.toSeq.filter(_.traced)
    val bl = tb.map(b => batchLayers(b))
    val rl = tr.map(r => (r, readLayers(r)))
    // spark.* per unit: batches where the loop writes, read ops otherwise
    val sparkUnits: Seq[Map[String, Double]] =
      if (bl.nonEmpty) bl else rl.map(_._2)
    def fromBatches(k: String) = med(bl.map(_(k)))
    def fromUnits(k: String) = med(sparkUnits.map(_(k)))
    def readOp(op: String) = med(tr.filter(_.op == op).map(_.latency))
    val all = allBatches
    val folded = all.filter(_.folded)
    val third = all.size / 3
    val growth = if (third == 0) 0.0
      else med(all.takeRight(third).map(_.latency)) /
        med(all.take(third).map(_.latency))
    val counts = tr.filter(_.op == "count_sql")
    val countNoScan = rl.count { case (r, m) => r.op == "count_sql" && m("jobs") == 0 }
    val unitsTraced = if (all.nonEmpty) tb.map(_.latency) else tr.map(_.latency)
    val unitsPlain = if (all.nonEmpty) all.filterNot(_.traced).map(_.latency)
      else ctx.reads.toSeq.filterNot(_.traced).map(_.latency)
    Seq(
      Metric("pipeline.bronze_s", "s", fromBatches("pipeline.bronze_s")),
      Metric("pipeline.silver_s", "s", fromBatches("pipeline.silver_s")),
      Metric("pipeline.gold_s", "s", fromBatches("pipeline.gold_s")),
      Metric("ingest.jobs", "count", fromBatches("ingest.jobs")),
      Metric("ingest.job_s", "s", fromBatches("ingest.job_s")),
      Metric("merge.rewrite_s", "s", fromBatches("merge.rewrite_s")),
      Metric("merge.stage_deletes_s", "s", fromBatches("merge.stage_deletes_s")),
      Metric("merge.key_probe_s", "s", fromBatches("merge.key_probe_s")),
      Metric("table.stage_write_s", "s", fromBatches("table.stage_write_s")),
      Metric("table.commit_s", "s", fromBatches("table.commit_s")),
      Metric("table.footer_stats_s", "s", fromBatches("table.footer_stats_s")),
      Metric("spark.jobs_per_batch", "count",
        if (bl.nonEmpty) fromBatches("spark.jobs_per_batch") else fromUnits("jobs")),
      Metric("spark.driver_gap_s", "s", fromUnits("spark.driver_gap_s")),
      Metric("spark.task_s", "s", fromUnits("spark.task_s")),
      Metric("spark.shuffle_bytes", "bytes", fromUnits("spark.shuffle_bytes")),
      Metric("spark.bytes_read", "bytes", fromUnits("spark.bytes_read")),
      Metric("spark.bytes_written", "bytes", fromUnits("spark.bytes_written")),
      Metric("streaming.trigger_s", "s", fromBatches("streaming.trigger_s")),
      Metric("streaming.add_batch_s", "s", fromBatches("streaming.add_batch_s")),
      Metric("streaming.overhead_s", "s", fromBatches("streaming.overhead_s")),
      Metric("streaming.discovery_lag_s", "s",
        fromBatches("streaming.discovery_lag_s")),
      Metric("silver.live_delete_files", "count",
        med(all.filter(_.liveDeletesBefore >= 0).map(_.liveDeletesBefore.toDouble))),
      Metric("silver.fold_count", "count", folded.size.toDouble),
      Metric("silver.fold_batch_s", "s", med(folded.map(_.latency))),
      Metric("silver.latency_per_live_delete_s", "s/file", Stats.slope(
        all.filter(b => !b.traced && !b.folded && b.liveDeletesBefore >= 0)
          .map(b => (b.liveDeletesBefore.toDouble, b.latency)))),
      Metric("table.snapshots", "count", snapshots),
      Metric("table.live_files", "count", liveFiles),
      Metric("pipeline.latency_growth", "ratio", growth),
      Metric("read.count_sql_s", "s", readOp("count_sql")),
      Metric("read.partition_agg_s", "s", readOp("partition_agg")),
      Metric("read.point_lookup_s", "s", readOp("point_lookup")),
      Metric("read.time_travel_s", "s", readOp("time_travel")),
      Metric("read.incremental_s", "s", readOp("incremental")),
      Metric("read.external_iceberg_s", "s", readOp("external_iceberg")),
      Metric("read.plan_s", "s", med(rl.map(_._2("plan_s")))),
      Metric("read.exec_s", "s", med(rl.map(_._2("exec_s")))),
      Metric("read.manifest_parses", "count", med(tr.map(_.manifestParses.toDouble))),
      Metric("read.files_scanned", "count", med(tr.map(_.filesScanned.toDouble))),
      Metric("read.rows_scanned_per_row_returned", "ratio",
        med(tr.map(r => r.rowsScanned.toDouble / math.max(1L, r.rowsReturned)))),
      Metric("read.count_without_scan_frac", "ratio",
        if (counts.isEmpty) 0.0 else countNoScan.toDouble / counts.size),
      Metric("table.stats_data_scans", "count", statsScans.toDouble),
      Metric("trace.unattributed_s", "s",
        if (bl.nonEmpty) fromBatches("trace.unattributed_s")
        else med(rl.map(_._2("unattributed_s")))),
      Metric("trace.overhead", "ratio",
        if (unitsPlain.isEmpty) 0.0 else med(unitsTraced) / med(unitsPlain)))
  }

  // ---- output ----

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def json(metrics: Seq[Metric]): String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": ${ctx.failed == 0}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }

  def print(metrics: Seq[Metric]): Unit = {
    val traced = if (opts.trace) " (end-to-end from the untraced units)" else ""
    println(s"[perfbench] ${opts.workload} seed=${opts.seed} " +
      s"cores=${opts.cores} loop=${"%.1f".format(loopS)}s " +
      s"batches=${batchLat.size} reads=${readLat.size}$traced")
    println("  time by part (set-up, then end checks): " +
      ctx.setupParts.map { case (k, v) => f"$k $v%.2fs" }.mkString(", "))
    println("  batch latencies (s): " + ctx.batches.map(b =>
      f"${b.latency}%.2f${if (b.traced) "*" else ""}").mkString(" "))
    println("  read latencies (s): " + ctx.reads.map(r =>
      f"${r.op}=${r.latency}%.2f${if (r.traced) "*" else ""}").mkString(" "))
    metrics.foreach(m => println(f"  ${m.name}%-38s ${fmt(m.value)}%-24s ${m.unit}"))
    println(f"  ${"read_latency_p50_s"}%-38s ${fmt(Stats.median(readLat))}%-24s s")
    println(tailLine("batch_latency_tail_s", batchLat))
    println(tailLine("read_latency_tail_s", readLat))
    val frac = if (ctx.attempted == 0) 1.0 else ctx.failed.toDouble / ctx.attempted
    println(f"  ${"failed_frac"}%-38s ${frac.toString}%-24s ratio" +
      s"  (${ctx.failed} of ${ctx.attempted} batches, reads and checks)")
    ctx.failures.take(5).foreach(f => println(s"  failure: $f"))
  }

  /** Spans and job records as JSON lines, one object each. */
  def writeTrace(path: Path): Unit = {
    def q(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val lines = ctx.spans.all.map(s =>
      s"""{"type": "span", "name": ${q(s.name)}, "parent": ${q(s.parent)}, """ +
        s""""unit": ${q(s.unit)}, "start_ms": ${s.start}, "end_ms": ${s.end}}""") ++
      ctx.jobs.all.map(j =>
        s"""{"type": "job", "id": ${j.id}, "site": ${q(j.site)}, "file": ${q(j.file)}, """ +
          s""""layer": ${q(j.layer)}, "batch_id": ${j.batchId.getOrElse(-1L)}, """ +
          s""""start_ms": ${j.start}, "end_ms": ${j.end}, "task_ms": ${j.taskMs}, """ +
          s""""shuffle_bytes": ${j.shuffleBytes}, "bytes_read": ${j.bytesRead}, """ +
          s""""bytes_written": ${j.bytesWritten}}""")
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Report {
  /** Which units of a traced run are traced: every other one. Read ops
    * shift by one each cycle of the mix, so the ops untraced in the first
    * cycle are traced in the second. */
  def traced(workload: String, i: Int): Boolean =
    if (workload == "silver_read") (i + i / SilverRead.Ops.size) % 2 == 1
    else i % 2 == 0

  /** Units a run completes even past `--seconds`: three batches (four in a
    * traced run, two of them traced), and one whole cycle of the read mix
    * (two in a traced run, so that every op is traced once and untraced
    * once). Most of a run is set-up, so these minimums, not `--seconds`,
    * set the length of a short run. */
  def minUnits(opts: Opts): Int =
    if (opts.workload != "silver_read") (if (opts.trace) 4 else 3)
    else SilverRead.Ops.size * (if (opts.trace) 2 else 1)

  def duBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
