package graft.tools

import org.apache.spark.sql.SparkSession

import graft.util.Phase

/** Targeted per-query timing for the optimization loop: same session
  * shape, warm-up and 3-timed-run min/median as `graft.Bench`, but only
  * for the queries named in args — so one optimization's effect is
  * measurable in seconds, not a full bench run. Not an artifact
  * producer; the bench of record stays `graft.Bench`.
  *
  * With `-Dgraft.phase.timing=true` the timed runs are traced
  * ([[graft.util.Phase]]), and each query also prints where its time
  * went: per label its span time and the Spark jobs it launched, then
  * the unattributed remainder — wall time no span covered. */
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
    sys.props("graft.lifecycle.asserts") = "off"
    val queries = graft.SparkEntry.queries

    names.foreach { name =>
      val fn = queries(name)
      // (wall, unattributed) seconds; the result's own execution is
      // the `query.result` span
      def once(): (Double, Double) = {
        val (_, sec, unattributed) = Phase.measure {
          val df = fn(spark, sfDir)
          Phase.timed("query.result")(df.queryExecution.toRdd.count())
        }
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        (sec, unattributed)
      }
      once() // warm-up
      Phase.reset()
      val measured = Seq.fill(runsN)(once())
      val runs = measured.map(_._1)
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      println(f"QUERY $name%-32s min=${runs.min}%7.3f med=${median(runs)}%7.3f runs=" +
        runs.map(r => f"$r%.3f").mkString(","))
      // machine-readable line tools/ab_lifecycle.py parses (TIME_RE)
      println(f"[time] $name median=${median(runs)}%.3f s runs=" +
        runs.map(r => f"$r%.3f").mkString(","))
      if (Phase.isEnabled) printTrace(runs.sum, measured.map(_._2).sum)
    }
    spark.stop()
  }

  /** Per label (summed over the timed runs): span wall time and count,
    * then its jobs' count, wall, task time and bytes read / written /
    * shuffled (MB), and the labels it ran under; jobs outside every span
    * are listed by call site. Then the unattributed remainder. */
  private def printTrace(wall: Double, unattributed: Double): Unit = {
    val spans = Phase.snapshot().map { case (l, s, n) => l -> (s, n) }.toMap
    def mb(b: Long) = b / 1048576.0
    println(f"    ${"span_s"}%8s ${"n"}%5s ${"jobs"}%5s ${"job_s"}%8s " +
      f"${"task_s"}%8s ${"read_MB"}%8s ${"write_MB"}%8s ${"shuf_MB"}%8s  label")
    Phase.jobs().sortBy(j => -spans.get(j.label).fold(j.jobSec)(_._1))
      .foreach { j =>
        val (s, n) = spans.getOrElse(j.label, (0.0, 0L))
        val under =
          if (j.parents.isEmpty) "" else j.parents.toSeq.sorted.mkString(" < ", ",", "")
        println(f"    $s%8.3f $n%5d ${j.jobs}%5d ${j.jobSec}%8.3f " +
          f"${j.taskSec}%8.3f ${mb(j.bytesRead)}%8.1f " +
          f"${mb(j.bytesWritten)}%8.1f ${mb(j.shuffleBytes)}%8.1f  " +
          s"${j.label}$under")
      }
    println(f"    unattributed $unattributed%.3f s of $wall%.3f s wall " +
      f"(${100 * unattributed / wall}%.1f%%)")
  }
}
