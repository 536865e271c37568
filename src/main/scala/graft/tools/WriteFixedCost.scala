package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Round-17 write-path triage: how much of a small staged write is
  * FIXED machinery (planning, job launch, committer fs-ops, parquet
  * open/close) vs the batch's own computation? Times, in one session:
  *
  *   1. noop write of a tiny checkpointed frame  (pure job cost)
  *   2. parquet write of the same frame, v2 committer, no _SUCCESS
  *      (the stageAndMove shape)                 (1 + write machinery)
  *   3. same with partitionBy                    (dynamic-partition tax)
  *   4. same through a realistic small MERGE output plan (join+union)
  *
  * Usage: sbt "runMain graft.tools.WriteFixedCost"
  */
object WriteFixedCost {

  private def stats(runs: Seq[Double]): String = {
    val s = runs.sorted
    f"min=${s.head}%.3f med=${s(s.size / 2)}%.3f"
  }

  def main(args: Array[String]): Unit = {
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
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val base = graft.queries.Scratch.dir("wfc")
    val df = spark.range(2000)
      .select(col("id"), (col("id") % 7).as("k"),
        (col("id") % 3).cast("string").as("p"))
      .localCheckpoint()
    df.count()

    def timeN(n: Int)(f: Int => Unit): Seq[Double] = {
      f(-1) // warm
      (0 until n).map { i =>
        val t0 = System.nanoTime(); f(i); (System.nanoTime() - t0) / 1e9
      }
    }

    val noop = timeN(10)(_ =>
      df.write.format("noop").mode("overwrite").save())
    println(s"noop tiny frame          ${stats(noop)}")

    def writer(d: org.apache.spark.sql.DataFrame) =
      d.write.mode("overwrite")
        .option("compression", "snappy")
        .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
        .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")

    val flat = timeN(10)(i => writer(df).parquet(s"$base/flat-$i"))
    println(s"parquet flat             ${stats(flat)}")

    val partd = timeN(10)(i =>
      writer(df).partitionBy("p").parquet(s"$base/part-$i"))
    println(s"parquet partitionBy(p)   ${stats(partd)}")

    // a realistic small merge-shaped plan: anti-join + union, NOT cached
    val tgt = spark.range(4000)
      .select(col("id"), (col("id") % 7).as("k"),
        (col("id") % 3).cast("string").as("p"))
      .localCheckpoint()
    tgt.count()
    val mergePlan = tgt.join(df, Seq("id"), "left_anti").unionByName(df)
    val mshape = timeN(10)(i => writer(mergePlan).parquet(s"$base/m-$i"))
    println(s"parquet merge-shaped     ${stats(mshape)}")

    val mnoop = timeN(10)(_ =>
      mergePlan.write.format("noop").mode("overwrite").save())
    println(s"noop merge-shaped        ${stats(mnoop)}")

    // coalesce(1): is task count the tax?
    val c1 = timeN(10)(i => writer(df.coalesce(1)).parquet(s"$base/c1-$i"))
    println(s"parquet flat coalesce(1) ${stats(c1)}")

    spark.stop()
  }
}
