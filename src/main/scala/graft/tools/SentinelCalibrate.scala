package graft.tools

import org.apache.spark.sql.SparkSession

/** Calibrates [[graft.util.BenchSentinel.ExpectedSec]]: run on an IDLE
  * machine (no concurrent sbt/spark), commit the printed min into the
  * constant. Usage: sbt "runMain graft.tools.SentinelCalibrate" */
object SentinelCalibrate {
  def main(args: Array[String]): Unit = {
    val cpus = graft.SparkEntry.cpus.toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val runs = Seq.fill(3)(graft.util.BenchSentinel.measure(spark, cpus))
    println(f"[sentinel] loadavg=${graft.util.BenchSentinel.loadavg} " +
      f"min-of-3 runs: ${runs.map(r => f"$r%.3f").mkString(", ")} " +
      f"-> commit ExpectedSec = ${runs.min}%.3f")
    val io = Seq.fill(3)(graft.util.BenchSentinel.ioMeasure())
    println(f"[sentinel] io min-of-3 runs: " +
      f"${io.map(r => f"$r%.3f").mkString(", ")} " +
      f"-> commit IoExpectedSec = ${io.min}%.3f")
    spark.stop()
  }
}
