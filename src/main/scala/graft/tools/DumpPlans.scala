package graft.tools

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named declared queries into a
  * directory (plans/r16/<query>_<tag>.txt) — the optimization round's
  * plan-shape evidence. Usage: runMain graft.tools.DumpPlans <outDir>
  * <tag> <query...>. */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args.drop(2)
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
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plans] wrote $n ($tag): ${txt.linesIterator.size} lines")
    }
    spark.stop()
  }
}
