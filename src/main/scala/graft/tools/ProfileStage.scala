package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round measurement harness (guide §1: measure first).
  *
  * The bench ledgers say `table.stage.write` dominates every slow
  * lifecycle query at sf0.1 — but that phase conflates (a) computing the
  * staged frame (joins/windows), (b) the parquet write job itself, and
  * (c) commit-protocol overhead. This main decomposes a staged write of
  * a fixture-sized batch under controlled variations so the fix targets
  * the real cost:
  *
  *   noop            compute-only (guide §1.4 noop sink)
  *   write           parquet write, session defaults (what stageAndMove does)
  *   write+v2        mapreduce committer algorithm 2
  *   write+coalesce  AQE coalescing sized for output files
  *                   (parallelismFirst=false, advisory 64m)
  *   write+both      both of the above
  *
  * each for a scan-shaped batch (no shuffle) and a shuffle-shaped batch
  * (the window-dedup plan every merge stages), with and without
  * partitionBy, reporting seconds (min/median of N) and files produced.
  */
object ProfileStage {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = graft.SparkEntry.cpus
    val runs = sys.env.getOrElse("PROFILE_RUNS", "5").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        s"${graft.queries.Scratch.baseDir}/graft-profile-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = s"${graft.queries.Scratch.baseDir}/graft-profile-" +
      java.util.UUID.randomUUID()
    graft.queries.Scratch.deleteOnExit(base)

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    orders.count() // warm file cache + codegen

    // scan-shaped batch: what a fixture append stages
    def scanBatch: DataFrame = orders.filter(col("o_orderkey") % 3 === 0)
    // shuffle-shaped batch: the window-dedup + anti-join union every COW
    // merge stages (tiny rows, a real exchange in the plan)
    def mergeBatch: DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderkey").orderBy(col("o_orderkey").desc)
      val dedup = orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
      orders.filter(col("o_orderkey") % 3 === 0)
        .join(dedup.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
        .unionByName(dedup)
    }

    def countFiles(dir: String): Int = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir))
    }

    var n = 0
    def run(label: String, df: => DataFrame, parts: Seq[String],
        confs: Map[String, String], noop: Boolean = false): Unit = {
      val saved = confs.keys.map(k =>
        k -> scala.util.Try(spark.conf.get(k)).toOption).toMap
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val times = scala.collection.mutable.ArrayBuffer.empty[Double]
        var files = -1
        (0 until runs + 1).foreach { i =>
          n += 1
          val out = s"$base/out-$n-$i"
          val t0 = System.nanoTime()
          if (noop) df.write.format("noop").mode("overwrite").save()
          else {
            val w = df.write.mode("overwrite").option("compression", "snappy")
            (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(out)
          }
          val sec = (System.nanoTime() - t0) / 1e9
          if (i > 0) times += sec // first run = warm-up
          if (!noop) files = countFiles(out)
        }
        println(f"$label%-46s min=${times.min}%6.3f med=${median(times.toSeq)}%6.3f files=$files%4d")
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }

    val v2 = Map("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2")
    val co = Map(
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64m")
    val noSuccess = Map(
      "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

    for ((bl, bf) <- Seq(("scan", () => scanBatch), ("merge", () => mergeBatch));
         (pl, ps) <- Seq(("part", Seq("o_orderstatus")), ("flat", Seq.empty[String]))) {
      run(s"$bl/$pl noop", bf(), ps, Map.empty, noop = true)
      run(s"$bl/$pl write", bf(), ps, Map.empty)
      run(s"$bl/$pl write+v2", bf(), ps, v2)
      run(s"$bl/$pl write+coalesce", bf(), ps, co)
      run(s"$bl/$pl write+v2+coalesce", bf(), ps, v2 ++ co)
      run(s"$bl/$pl write+v2+coalesce+nosuccess", bf(), ps, v2 ++ co ++ noSuccess)
    }

    // ---- move decomposition: Hadoop listFiles + per-file rename +
    // recursive delete over a just-written stage dir, vs java.nio ----
    {
      import org.apache.hadoop.fs.Path
      val fs = new Path(base).getFileSystem(
        spark.sessionState.newHadoopConf())
      (0 until 3).foreach { i =>
        val stage = s"$base/mv-stage-$i"
        val dest = s"$base/mv-dest-$i"
        scanBatch.write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(stage)
        val t0 = System.nanoTime()
        val it = fs.listFiles(new Path(stage), true)
        var nf = 0
        val t1 = System.nanoTime()
        val moves = scala.collection.mutable.ArrayBuffer.empty[(Path, Path)]
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) {
            nf += 1
            val rel = f.getPath.toString.substring(
              f.getPath.toString.indexOf(stage) + stage.length + 1)
            moves += ((f.getPath, new Path(dest, rel)))
          }
        }
        val t2 = System.nanoTime()
        moves.foreach { case (s, d) => fs.mkdirs(d.getParent); fs.rename(s, d) }
        val t3 = System.nanoTime()
        fs.delete(new Path(stage), true)
        val t4 = System.nanoTime()
        println(f"move[hadoop] files=$nf list=${(t2 - t0) / 1e9}%6.3f rename=${(t3 - t2) / 1e9}%6.3f delete=${(t4 - t3) / 1e9}%6.3f")
      }
      (0 until 3).foreach { i =>
        val stage = s"$base/mvn-stage-$i"
        val dest = s"$base/mvn-dest-$i"
        scanBatch.write.mode("overwrite")
          .partitionBy("o_orderstatus").parquet(stage)
        val t0 = System.nanoTime()
        import java.nio.file.{Files, Paths}
        val walked = Files.walk(Paths.get(stage)).iterator()
        var nf = 0
        val moves = scala.collection.mutable.ArrayBuffer
          .empty[(java.nio.file.Path, java.nio.file.Path)]
        while (walked.hasNext) {
          val p = walked.next()
          if (p.getFileName.toString.endsWith(".parquet")) {
            nf += 1
            moves += ((p, Paths.get(dest).resolve(Paths.get(stage).relativize(p))))
          }
        }
        val t2 = System.nanoTime()
        moves.foreach { case (s, d) =>
          Files.createDirectories(d.getParent); Files.move(s, d) }
        val t3 = System.nanoTime()
        def rmr(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmr))
          f.delete()
        }
        rmr(new java.io.File(stage))
        val t4 = System.nanoTime()
        println(f"move[nio]    files=$nf list=${(t2 - t0) / 1e9}%6.3f rename=${(t3 - t2) / 1e9}%6.3f delete=${(t4 - t3) / 1e9}%6.3f")
      }
    }

    // end-to-end: a GraftTable append + MOR merge + COW merge with the
    // Phase ledger printed, so the micro numbers tie back to the bench's
    // phase attribution
    graft.util.Phase.enable()
    graft.util.Phase.reset()
    val t = graft.table.GraftTable(spark, s"$base/t1")
    val t0 = System.nanoTime()
    t.append(scanBatch, parts = Seq("o_orderstatus"))
    val tAppend = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    t.merge(orders.filter(col("o_orderkey") % 5 === 0),
      keys = Seq("o_orderkey"), dedupKey = Seq("o_orderkey"),
      orderCol = "o_orderkey", mode = "mor")
    val tMor = (System.nanoTime() - t1) / 1e9
    val t2 = System.nanoTime()
    t.merge(orders.filter(col("o_orderkey") % 7 === 0),
      keys = Seq("o_orderkey"), dedupKey = Seq("o_orderkey"),
      orderCol = "o_orderkey", mode = "cow")
    val tCow = (System.nanoTime() - t2) / 1e9
    println(f"append=${tAppend}%6.3f mor=${tMor}%6.3f cow=${tCow}%6.3f")
    graft.util.Phase.snapshot().foreach { case (p, s, c) =>
      println(f"  $s%7.3f s n=$c%3d  $p")
    }
    spark.stop()
  }
}
