package graft.tools

import org.apache.spark.sql.SparkSession

/** Targeted per-query timing for the optimization loop: same session
  * shape, warm-up, 3-timed-run min/median and Phase ledger as
  * `graft.Bench`, but only for the queries named in args — so one
  * optimization's effect is measurable in seconds, not a full bench run.
  * Not an artifact producer; the bench of record stays `graft.Bench`. */
object TimeQueries {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    // Two accepted arg shapes (tools/ab_lifecycle.py uses the first):
    //   <sfDir> <q1,q2,...> [runsN]   — positional, comma-joined queries
    //   <q1> <q2> ...                 — bare query names (env-config'd)
    val positional = args.headOption.exists(_.startsWith("/"))
    val sfDir =
      if (positional) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names: Seq[String] =
      if (positional) args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else args.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).toSeq
    val cpus = graft.SparkEntry.cpus
    val runsN =
      if (positional && args.length > 2) args(2).toInt
      else sys.env.getOrElse("TIMEQ_RUNS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        s"${graft.queries.Scratch.baseDir}/graft-spark-local")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(s"$sfDir/region.parquet").count()
    graft.util.Phase.enable()
    sys.props("graft.lifecycle.asserts") = "off"
    val queries = graft.SparkEntry.queries

    names.foreach { name =>
      val fn = queries(name)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val sec = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        sec
      }
      once() // warm-up
      graft.util.Phase.reset()
      val runs = Seq.fill(runsN)(once())
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      println(f"QUERY $name%-32s min=${runs.min}%7.3f med=${median(runs)}%7.3f runs=" +
        runs.map(r => f"$r%.3f").mkString(","))
      // machine-readable line tools/ab_lifecycle.py parses (TIME_RE)
      println(f"[time] $name median=${median(runs)}%.3f s runs=" +
        runs.map(r => f"$r%.3f").mkString(","))
      graft.util.Phase.snapshot().take(12).foreach { case (p, s, c) =>
        println(f"    ${s}%7.3f s n=$c%4d  $p")
      }
    }
    spark.stop()
  }
}
