package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The medallion CDC benchmark's driver process.
  *
  *   Main --workload cdc_batch|silver_read --seed N --seconds S
  *        --trace 0|1 --dir RUN_DIR [--cores C] [--trace-out FILE]
  *        [--history H]
  *
  * `--history` sets how many micro-batches silver_read streams into its
  * silver (default [[Sizes.HistoryBatches]]); a long history by hand
  * shows auto-fold and the tombstone sawtooth.
  *
  * Sets up the workload (timed as `setup_s`), runs its closed loop for S
  * seconds, checks every table and read against the generator's model,
  * and prints the metrics; the last stdout line is one JSON object. */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      (k.stripPrefix("--"), v) }.toMap
    val opts = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.get("trace").contains("1"), kv("dir"),
      kv.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      kv.get("history").map(_.toInt).getOrElse(Sizes.HistoryBatches))
    require(Set("cdc_batch", "silver_read")(opts.workload),
      s"unknown workload ${opts.workload}")
    // long call sites let the traced run name the layer that launched each
    // job; the property only shapes a string Spark builds per job
    if (opts.trace) System.setProperty("spark.callstack.depth", "200")

    val t0 = Clock.nowMs
    val spark = session(opts)
    val ctx = new Ctx(spark, opts)
    ctx.setupParts += (("session", (Clock.nowMs - t0) / 1000))
    val workload: Workload = opts.workload match {
      case "cdc_batch" => new CdcBatch(ctx)
      case "silver_read" => new SilverRead(ctx)
    }
    var setupS = Double.NaN
    var loopS = 0.0
    var statsScans0 = 0L
    try {
      workload.setup()
      setupS = (Clock.nowMs - t0) / 1000
      val loop0 = Clock.nowMs
      val written0 = ctx.writtenBytesNow()
      val input0 = ctx.inputBytesTotal
      statsScans0 = graft.table.GraftTable.statsDataScans.get()
      var i = 0
      while ((Clock.nowMs - loop0) / 1000 < opts.seconds ||
          i < Report.minUnits(opts)) {
        val traced = opts.trace && Report.traced(opts.workload, i)
        ctx.traceUnit(traced)
        workload.step(i, traced)
        i += 1
      }
      ctx.traceUnit(false)
      loopS = (Clock.nowMs - loop0) / 1000
      if (opts.workload != "silver_read") {
        ctx.ratioWrittenBytes = ctx.writtenBytesNow() - written0
        ctx.ratioInputBytes = ctx.inputBytesTotal - input0
      }
      ctx.setupPart("end_checks")(workload.finish())
    } catch {
      case e: Throwable =>
        ctx.traceUnit(false)
        ctx.failedOp(s"${opts.workload} run", e)
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val statsScans = graft.table.GraftTable.statsDataScans.get() - statsScans0
    val report = new Report(ctx, workload, setupS, loopS, statsScans)
    val metrics = report.endToEnd ++ (if (opts.trace) report.perLayer else Nil)
    report.print(metrics)
    kv.get("trace-out").foreach(f => report.writeTrace(Paths.get(f)))
    spark.stop()
    val json = report.json(if (opts.trace) report.perLayer else report.endToEnd)
    println(json)
    System.out.flush()
  }

  private def session(opts: Opts): SparkSession = {
    Files.createDirectories(Paths.get(opts.dir, "spark-local"))
    val s = SparkSession.builder()
      .appName(s"perfbench-${opts.workload}")
      .master(s"local[${opts.cores}]")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"${opts.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.dir}/warehouse")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
