package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job-timeline profile of one declared query (guide §1 / §7.3): runs
  * the query once warm, once profiled, and prints every Spark job with
  * its wall span plus the DRIVER-SIDE GAPS between consecutive jobs —
  * the gaps are where non-ledger seconds hide (planning, metadata IO,
  * micro-batch machinery, commit protocol). Usage:
  *   runMain graft.tools.ProfileStream <query> [query...]
  */
object ProfileStream {

  private case class J(id: Int, desc: String, start: Long, var end: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.SparkEntry.cpus
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
    sys.props("graft.lifecycle.asserts") = "off"
    val queries = graft.SparkEntry.queries
    spark.read.parquet(s"$sfDir/region.parquet").count()

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    // SQL-execution id → callsite description ("collect at Foo.scala:12")
    val execDesc = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          val planRoot = s.physicalPlanDescription.linesIterator
            .dropWhile(l => l.isEmpty || l.startsWith("=="))
            .nextOption().map(_.trim.replaceAll("\\(\\d+\\)", ""))
            .getOrElse("?")
          val d =
            if (s.description != null && s.description.trim.nonEmpty &&
                !s.description.contains("runId = "))
              s.description.trim
            else planRoot
          execDesc.put(s.executionId, d)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        val sqlDesc = props
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => Option(execDesc.get(id.toLong)))
        val desc = props
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("?")
        // streaming jobs carry "id = ..\nrunId = ..\nbatch = N" — keep
        // only the batch line (plus the SQL callsite when present);
        // batch jobs keep their first line
        val short =
          if (desc.contains("runId = "))
            "stream " + desc.linesIterator.toSeq.last +
              sqlDesc.map(" | " + _.linesIterator.next()).getOrElse("")
          else sqlDesc.map(_.linesIterator.next())
            .getOrElse(desc.linesIterator.next())
        jobs.put(e.jobId, J(e.jobId, short.take(120), e.time, -1L))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      }
    }

    args.foreach { name =>
      val fn = queries(name)
      fn(spark, sfDir).queryExecution.toRdd.count() // warm
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      jobs.clear()
      graft.util.Phase.reset()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.currentTimeMillis()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val t1 = System.currentTimeMillis()
      spark.sparkContext.removeSparkListener(listener)
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
      println(f"\n===== $name wall=${(t1 - t0) / 1000.0}%.3f s, " +
        s"${js.size} jobs =====")
      var prevEnd = t0
      var gapTotal = 0L
      var jobTotal = 0L
      js.foreach { j =>
        val gap = j.start - prevEnd
        if (gap > 25) println(f"  GAP   ${gap / 1000.0}%7.3f s  (driver)")
        gapTotal += math.max(0, gap)
        val end = if (j.end < 0) j.start else j.end
        jobTotal += end - j.start
        println(f"  job${j.id}%-4d ${(end - j.start) / 1000.0}%7.3f s  ${j.desc}")
        prevEnd = math.max(prevEnd, end)
      }
      val tailGap = t1 - prevEnd
      if (tailGap > 25) println(f"  GAP   ${tailGap / 1000.0}%7.3f s  (driver, tail)")
      println(f"  TOTAL jobs=${jobTotal / 1000.0}%.3f s  " +
        f"gaps=${(gapTotal + math.max(0, tailGap)) / 1000.0}%.3f s")
      graft.util.Phase.snapshot().take(12).foreach { case (p, s, c) =>
        println(f"    ${s}%7.3f s n=$c%4d  $p")
      }
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    }
    spark.stop()
  }
}
