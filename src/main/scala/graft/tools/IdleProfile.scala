package graft.tools

import org.apache.spark.sql.SparkSession

/** Dedicated idle profile of one query's 10× scale ratio (the r13
  * table_merge treatment, demanded again by the r15 verdict for
  * q_iceberg_writeback_merge): N ALTERNATING base/10× rounds behind an
  * explicit idle gate, so a weather episode cannot land on one tier
  * only, with median AND min ratios reported — min is the harness's
  * steady-state statistic, median shows the spread. One JSON line to
  * stdout; every raw run in-artifact.
  *
  * Usage: runMain graft.tools.IdleProfile <query> [rounds]
  *   SPARK_GRAFT_SF_DIR    base corpus (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_SCALE_DIR 10× corpus (generated if absent)
  */
object IdleProfile {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
  private def fmt(d: Double): String = f"$d%.3f"

  def main(args: Array[String]): Unit = {
    val query = args.headOption.getOrElse("q_iceberg_writeback_merge")
    val rounds = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val cpus = graft.SparkEntry.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        s"${graft.queries.Scratch.baseDir}/graft-spark-local")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val scaleDir = ScaleUp.ensure(spark, sfDir,
      sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
        s"${graft.queries.Scratch.baseDir}/graft-scale10x"))
    sys.props("graft.lifecycle.asserts") = "off"
    graft.util.Phase.enable()
    val fn = graft.SparkEntry.queries(query)

    def once(dir: String): Double = {
      val t0 = System.nanoTime()
      fn(spark, dir).queryExecution.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      sec
    }
    def awaitIdle(): Double = {
      var r = graft.util.BenchSentinel.measure(spark, cpus.toInt) /
        graft.util.BenchSentinel.expected
      var tries = 0
      while (r > graft.util.BenchSentinel.ContendedRatio && tries < 6) {
        System.err.println(f"[profile] sentinel $r%.2f busy — sleeping 30s")
        Thread.sleep(30000); tries += 1
        r = graft.util.BenchSentinel.measure(spark, cpus.toInt) /
          graft.util.BenchSentinel.expected
      }
      r
    }

    // session + per-tier warm-up (untimed; JIT/codegen/footer caches)
    spark.read.parquet(s"$sfDir/region.parquet").count()
    once(sfDir); once(scaleDir)
    val gate = awaitIdle()
    val io0 = graft.util.BenchSentinel.ioMeasure() /
      graft.util.BenchSentinel.ioExpected
    val pairs = (1 to rounds).map { i =>
      val b = once(sfDir)
      val s = once(scaleDir)
      System.err.println(f"[profile] round $i: base $b%.2f scale $s%.2f " +
        f"ratio ${s / b}%.2f")
      (b, s)
    }
    val io1 = graft.util.BenchSentinel.ioMeasure() /
      graft.util.BenchSentinel.ioExpected
    val sentEnd = graft.util.BenchSentinel.measure(spark, cpus.toInt) /
      graft.util.BenchSentinel.expected
    // per-phase ledger of ONE more scale-tier run — where the 10× time
    // actually goes (driver-side phases vs data plan), the diagnostic
    // the ratio alone can't answer
    graft.util.Phase.reset()
    val ledgerRun = once(scaleDir)
    val ledger = graft.util.Phase.snapshot().take(14).map {
      case (p, sec, n) => s""""$p":{"sec":${fmt(sec)},"n":$n}"""
    }.mkString("{", ",", "}")
    spark.stop()
    val bs = pairs.map(_._1); val ss = pairs.map(_._2)
    val j = s"""{"query":"$query","rounds":$rounds""" +
      s""","base_runs":[${bs.map(fmt).mkString(",")}]""" +
      s""","scale_runs":[${ss.map(fmt).mkString(",")}]""" +
      s""","base_median":${fmt(median(bs))},"scale_median":${fmt(median(ss))}""" +
      s""","base_min":${fmt(bs.min)},"scale_min":${fmt(ss.min)}""" +
      s""","ratio_median":${fmt(median(ss) / median(bs))}""" +
      s""","ratio_min":${fmt(ss.min / bs.min)}""" +
      s""","per_round_ratios":[${pairs.map(p => fmt(p._2 / p._1)).mkString(",")}]""" +
      s""","gate_sentinel":${fmt(gate)},"end_sentinel":${fmt(sentEnd)}""" +
      s""","io_ratio_start":${fmt(io0)},"io_ratio_end":${fmt(io1)}""" +
      s""","scale_ledger_run_sec":${fmt(ledgerRun)}""" +
      s""","scale_ledger":$ledger}"""
    println(j)
  }
}
