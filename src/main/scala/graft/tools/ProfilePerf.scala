package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{cosineQ, quantize}

/** Round-10 perf triage (VERDICT r9 items 2 and 5): measure the two
  * 10×-tier watch items IDLE, with the contention sentinel recorded
  * next to every number so "weather or regression" is decidable from
  * the output alone.
  *
  *   1. q_dedup_minhash at 1× and 10×: 3 timed runs each (min+median).
  *      The r9 artifact showed median 2.94 → 6.67 s round-over-round
  *      under sentinel ratios 2.18-2.69 (every gate probe busy); no
  *      minhash-path code changed in r9, so the hypothesis is weather.
  *   2. One-shot IVF decomposition at 1× and 10×: the
  *      assignment / candidate-join / top-k-window stages forced
  *      SEPARATELY (each stage's frame counted; later stages include
  *      the earlier ones — the deltas are the per-stage costs), plus
  *      per-list candidate skew (max/mean list occupancy). r9 showed
  *      vs_base drift 1.90 → 2.36 contended.
  *
  * The stage replication below mirrors SimilaritySearch.ivfTopK's
  * internals (same centroid choice, same kernels) — tool-side copy so
  * the engine path stays un-instrumented.
  *
  * Usage: sbt "runMain graft.tools.ProfilePerf [sfDir]"
  */
object ProfilePerf {

  private def time3(f: () => Unit): (Double, Double) = {
    f() // warm-up
    val runs = Seq.fill(3) {
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }
    (runs.min, runs.sorted.apply(1))
  }

  private def fmt(d: Double) = f"$d%.3f"

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
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
    spark.read.parquet(s"$sfDir/region.parquet").count() // session warm-up

    def sentinel(): Double =
      graft.util.BenchSentinel.measure(spark, cpus.toInt) /
        graft.util.BenchSentinel.expected

    def cleanup(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
    }

    // ---- 1. minhash, idle, 1x and 10x ----
    val mh = Seq(("1x", sfDir), ("10x", scaleDir)).map { case (tier, dir) =>
      val s0 = sentinel()
      val (mn, md) = time3 { () =>
        graft.SparkEntry.queries("q_dedup_minhash")(spark, dir)
          .queryExecution.toRdd.count()
        cleanup()
      }
      val s1 = sentinel()
      s""""$tier":{"sec":${fmt(mn)},"median":${fmt(md)},"sentinel":[${fmt(s0)},${fmt(s1)}]}"""
    }
    println(s"""{"probe":"minhash",${mh.mkString(",")}}""")

    // ---- 2. IVF stage decomposition ----
    def ivfStages(dir: String): String = {
      val em = spark.read.parquet(s"$dir/embeddings.parquet")
      val queries = em.filter(col("vec_id") < 50)
        .select((col("vec_id") + lit(1000000L)).as("vec_id"),
          concat(array((col("embedding").getItem(0).cast("double") +
            lit(0.1)).cast("float")),
            slice(col("embedding"), lit(2), size(col("embedding")) - 1))
            .as("embedding"))
      val nLists = 16; val nProbe = 4; val k = 1
      import spark.implicits._
      val centRows = em
        .select(col("vec_id").cast("long").as("cent_id"),
          quantize(col("embedding")).as("cent_q"))
        .orderBy(xxhash64(col("cent_id")), col("cent_id"))
        .limit(nLists).collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
      val cents = centRows.map(_._2.toIndexedSeq).toIndexedSeq
      val centSigs = centRows.map(_ => 0L).toIndexedSeq
      def assignList(qv: org.apache.spark.sql.Column) =
        graft.functions.VectorExpressions.nearest_cosine_centroid(
          qv, lit(0L), cents, centSigs, 32)
      def corpusLists = em
        .select(col("vec_id").as("neighbor_id"),
          quantize(col("embedding")).as("q_neighbor_id"))
        .withColumn("list_id", assignList(col("q_neighbor_id")))
      def queryProbes = {
        val centsDf = centRows.zipWithIndex
          .map { case ((_, v), i) => (i, v.toSeq) }.toSeq
          .toDF("list_id", "cent_q")
        val q0 = queries.select(col("vec_id").as("query_id"),
          quantize(col("embedding")).as("q_query_id"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cent_cos").desc, col("list_id"))
        val exact = q0.crossJoin(broadcast(centsDf))
          .withColumn("cent_cos", cosineQ(col("q_query_id"), col("cent_q")))
          .withColumn("crank", row_number().over(w))
          .filter(col("crank") <= nProbe)
          .select(col("query_id"), col("q_query_id"), col("list_id"))
        val ann = q0.withColumn("list_id", assignList(col("q_query_id")))
          .select(col("query_id"), col("q_query_id"), col("list_id"))
        exact.unionByName(ann).dropDuplicates("query_id", "list_id")
      }
      def cand = corpusLists.join(queryProbes, Seq("list_id"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .dropDuplicates("query_id", "neighbor_id")
        .withColumn("cos", cosineQ(col("q_query_id"), col("q_neighbor_id")))
      def full = {
        val w = Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))
        cand.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select("query_id", "neighbor_id", "rank", "cos")
      }
      val (aMn, _) = time3(() => { corpusLists.queryExecution.toRdd.count(); cleanup() })
      val (cMn, _) = time3(() => { cand.queryExecution.toRdd.count(); cleanup() })
      val (fMn, _) = time3(() => { full.queryExecution.toRdd.count(); cleanup() })
      // skew shape: candidate rows per probed list
      val occ = cand.groupBy("list_id").count().select("count")
        .as[Long].collect()
      val occMax = if (occ.isEmpty) 0L else occ.max
      val occMean = if (occ.isEmpty) 0.0 else occ.sum.toDouble / occ.length
      val nCand = occ.sum
      s"""{"assign_sec":${fmt(aMn)},"cand_sec":${fmt(cMn)},"full_sec":${fmt(fMn)},"n_cand":$nCand,"list_max":$occMax,"list_mean":${fmt(occMean)}}"""
    }
    val s0 = sentinel()
    val ivf1 = ivfStages(sfDir)
    val ivf10 = ivfStages(scaleDir)
    val s1 = sentinel()
    println(s"""{"probe":"ivf","1x":$ivf1,"10x":$ivf10,"sentinel":[${fmt(s0)},${fmt(s1)}]}""")

    // ---- 3. the r10 `unstable` flags, isolated idle (VERDICT r10 item
    // 2): q_lm_score (10× ratio 2.86, min 3.24 vs median 7.77 in one
    // pass) and q_semdedup (1.61, 4.7 vs 6.9). Measured here in a fresh
    // near-empty session — if the grown 151-query bench session's heap/
    // page-cache pressure was the cause, these numbers come back tight
    // and sub-2× while the plans are unchanged. 5 runs (not 3) so the
    // spread itself is the evidence. ----
    Seq("q_lm_score", "q_semdedup").foreach { qn =>
      val fn = graft.SparkEntry.queries(qn)
      val tiers = Seq(("1x", sfDir), ("10x", scaleDir)).map { case (tier, dir) =>
        val t0 = sentinel()
        fn(spark, dir).queryExecution.toRdd.count(); cleanup() // warm-up
        val runs = Seq.fill(5) {
          val w0 = System.nanoTime()
          fn(spark, dir).queryExecution.toRdd.count()
          val sec = (System.nanoTime() - w0) / 1e9
          cleanup(); sec
        }
        val t1 = sentinel()
        s""""$tier":{"min":${fmt(runs.min)},"median":${fmt(runs.sorted.apply(2))},"max":${fmt(runs.max)},"runs":[${runs.map(fmt).mkString(",")}],"sentinel":[${fmt(t0)},${fmt(t1)}]}"""
      }
      println(s"""{"probe":"$qn",${tiers.mkString(",")}}""")
    }
    spark.stop()
  }
}
