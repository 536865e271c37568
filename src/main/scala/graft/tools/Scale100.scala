package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Chunking, Dedup, SimilaritySearch}
import graft.table.GraftTable

/** 100× spot-check of the dedup/ANN scale story (VERDICT r4 item 7): the
  * 10× tier is continuously benched; this tool runs MinHash-LSH and IVF
  * once at 1× / 10× / 100× of sf0.1 and reports the SHAPE numbers the
  * 100 TB claim rests on — band-bucket occupancy and candidate-pair
  * counts vs corpus size for minhash, list occupancy and probed
  * candidates for IVF. Linear designs ⇒ ~linear candidate growth and
  * ~flat per-bucket occupancy as the corpus grows (each 10× copy is a
  * self-contained sub-corpus by the ScaleUp suffix construction, so
  * near-dup structure never bleeds across copies — the behavior of a
  * real 10× corpus).
  *
  * The 100× corpus is DISK-backed (default /tmp, override
  * SPARK_GRAFT_SCALE100_DIR): at this size the point is shape, not
  * tmpfs-clean latency. Usage:
  *   sbt "runMain graft.tools.Scale100 [sfDir]"
  * Prints one JSON line per tier.
  */
object Scale100 {

  /** documents+embeddings only: ScaleUp.generate would also replicate
    * orders/lineitem (60M rows at 100×) that this check never reads. */
  private def ensureDocsEmb(spark: SparkSession, srcDir: String,
      outDir: String, suffix: String): String = {
    val done = new Path(outDir, "_SCALE_READY")
    val fs = done.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(done)) return outDir
    def read(t: String) = spark.read.parquet(s"$srcDir/$t.parquet")
    val docs = read("documents")
    val docSpan = docs.agg(max("doc_id")).head().getLong(0) + 1
    (0 until ScaleUp.Copies).map(i =>
      docs.withColumn("doc_id", col("doc_id") + lit(i * docSpan))
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"$$1$suffix$i")))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val emb = read("embeddings")
    val vecSpan = emb.agg(max("vec_id")).head().getLong(0) + 1
    (0 until ScaleUp.Copies).map(i =>
      emb.withColumn("vec_id", col("vec_id") + lit(i * vecSpan)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
    fs.create(done, true).close()
    outDir
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val cpus = graft.SparkEntry.cpus
    val diskBase = sys.env.getOrElse("SPARK_GRAFT_SCALE100_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft-scale100x")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // 10× reuses the bench corpus location; 100× stacks another 10× of
    // documents+embeddings on top (suffix y keeps copies self-contained)
    val dir10 = ScaleUp.ensure(spark, sfDir,
      sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
        s"${graft.queries.Scratch.baseDir}/graft-scale10x"))
    val dir100 = ensureDocsEmb(spark, dir10, diskBase, "y")

    Seq(("1x", sfDir), ("10x", dir10), ("100x", dir100)).foreach {
      case (tier, dir) =>
        val docs = spark.read.parquet(s"$dir/documents.parquet")
        val nDocs = docs.count()

        // ---- minhash shape ----
        val bands = 16; val numHashes = 64; val rows = numHashes / bands
        val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
        val banded = sig.select(col("id"),
          explode(array((0 until bands).map { bd =>
            struct(lit(bd).as("band"),
              xxhash64(lit(bd), slice(col("sig"), bd * rows + 1, rows))
                .as("bh"))
          }: _*)).as("bk"))
          .select(col("id"), col("bk.band"), col("bk.bh"))
        val occ = banded.groupBy("band", "bh").count()
          .agg(count(lit(1)).as("buckets"), max("count").as("maxOcc"),
            avg("count").as("meanOcc"))
          .head()
        val candCount = banded.as("l")
          .join(banded.as("r"), col("l.band") === col("r.band") &&
            col("l.bh") === col("r.bh") && col("l.id") < col("r.id"))
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
          .dropDuplicates("id_a", "id_b").count()
        val t0 = System.nanoTime()
        val pairs = Dedup.minhashPairs(docs, "doc_id", "text").count()
        val minhashSec = (System.nanoTime() - t0) / 1e9
        spark.sharedState.cacheManager.clearCache(); System.gc()

        // ---- IVF shape ----
        val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        val nVec = emb.count()
        // lists scale with corpus so per-list size stays bounded — the
        // parameter-scaling rule a real deployment uses (nLists ~ sqrt(N))
        val nLists = math.max(16, math.sqrt(nVec.toDouble).toInt)
        val queries = emb.orderBy("vec_id").limit(50)
        val t1 = System.nanoTime()
        val ivfRows = SimilaritySearch.ivfTopK(emb, queries, "vec_id",
          "embedding", k = 10, nLists = nLists,
          nProbe = math.max(4, nLists / 16))
          .count()
        val ivfSec = (System.nanoTime() - t1) / 1e9
        spark.sharedState.cacheManager.clearCache(); System.gc()

        // ---- chunk dedup shape (r7 item 6) ----
        // The scale claim: one fingerprint shuffle, group sizes set by
        // DUPLICATION STRUCTURE (flat as the corpus grows — ScaleUp
        // copies are self-contained), total join-back rows linear.
        val chunks = Chunking.chunk(docs, "doc_id", "text", 64, 64)
          .withColumn("h", md5(col("chunk_text")))
        val chunkOcc = chunks.groupBy("h").count()
          .agg(count(lit(1)).as("groups"), max("count").as("maxOcc"),
            avg("count").as("meanOcc")).head()
        val t2 = System.nanoTime()
        val cd = Chunking.chunkDedup(docs, "doc_id", "text", 64)
          .agg(sum("n_chunks").as("nc"), sum("n_kept").as("nk")).head()
        val chunkSec = (System.nanoTime() - t2) / 1e9
        spark.sharedState.cacheManager.clearCache(); System.gc()

        // ---- span dedup curve (r7 item 5: broadcast shared-set shape) ----
        val t3 = System.nanoTime()
        Dedup.repeatedSpans(docs, "doc_id", "text", 8)
          .queryExecution.toRdd.count()
        val spanSec = (System.nanoTime() - t3) / 1e9
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
        spark.sharedState.cacheManager.clearCache(); System.gc()

        println(s"""{"tier":"$tier","docs":$nDocs,"minhash":{""" +
          s""""buckets":${occ.getLong(0)},"maxOcc":${occ.getLong(1)},""" +
          f""""meanOcc":${occ.getDouble(2)}%.2f,"candidates":$candCount,""" +
          f""""pairs":$pairs,"sec":$minhashSec%.1f},""" +
          s""""ivf":{"vectors":$nVec,"nLists":$nLists,"rows":$ivfRows,""" +
          f""""sec":$ivfSec%.1f},""" +
          s""""chunk_dedup":{"groups":${chunkOcc.getLong(0)},""" +
          s""""maxOcc":${chunkOcc.getLong(1)},""" +
          f""""meanOcc":${chunkOcc.getDouble(2)}%.2f,""" +
          s""""chunks":${cd.getLong(0)},"kept":${cd.getLong(1)},""" +
          f""""sec":$chunkSec%.1f},""" +
          f""""span_dedup":{"sec":$spanSec%.1f}}""")
    }

    // ---- ingest-dedup probe + index-refresh cost vs CORPUS size ----
    // Two flat-cost claims measured: (a) dedupAppend's membership probe
    // is Bloom-file-pruned, so a fixed-size arrival batch costs the
    // same against a 10× corpus; (b) VectorIndex.refresh assigns only
    // the appended vectors, so refresh cost tracks the APPEND, not the
    // index size.
    Seq(("1x", sfDir), ("10x", dir10)).foreach { case (tier, dir) =>
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val scratch = s"${graft.queries.Scratch.baseDir}/graft-s100-ing-" +
        java.util.UUID.randomUUID()
      graft.queries.Scratch.deleteOnExit(scratch)
      val corpus = GraftTable(spark, s"$scratch/corpus")
      Dedup.dedupAppend(corpus, docs, "doc_id", "text")
      // fixed 200-doc arrival batch: half re-arrivals, half novel
      val batch = docs.filter(col("doc_id") % 50 === 0).limit(100)
        .withColumn("doc_id", col("doc_id") + 5000000L)
        .unionByName(docs.filter(col("doc_id") % 50 === 1).limit(100)
          .withColumn("doc_id", col("doc_id") + 6000000L)
          .withColumn("text", concat(col("text"), lit(" s100novel"))))
        .localCheckpoint()
      val t0 = System.nanoTime()
      val appended = Dedup.dedupAppend(corpus, batch, "doc_id", "text")
      val ingSec = (System.nanoTime() - t0) / 1e9

      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val src = GraftTable(spark, s"$scratch/vsrc")
      val base = emb.filter(col("vec_id") % 100 =!= 0)
      src.append(base)
      val idx = graft.operators.VectorIndex.build(src, "vec_id",
        "embedding", nLists = math.max(16,
          math.sqrt(base.count().toDouble).toInt), s"$scratch/vidx", "s100")
      src.append(emb.filter(col("vec_id") % 100 === 0)) // ~1% arrival
      val t1 = System.nanoTime()
      graft.operators.VectorIndex.refresh(src, "vec_id", "embedding",
        idx, "s100")
      val refreshSec = (System.nanoTime() - t1) / 1e9
      println(s"""{"tier":"$tier","ingest_dedup":{"corpus":${docs.count()},""" +
        f""""batch":200,"appended":$appended,"sec":$ingSec%.1f},""" +
        s""""index_refresh":{"indexed":${base.count()},""" +
        f""""appended":${emb.count() - base.count()},"sec":$refreshSec%.1f}}""")
      spark.sharedState.cacheManager.clearCache(); System.gc()
    }

    // ---- rollup maintenance cost vs DELTA size (r7 item 6) ----
    // The claim: a maintenance round costs O(changed rows) + a dst
    // rewrite bounded by affected keys' files — NOT O(src). Measured by
    // holding src fixed per tier and timing maintenance after a small
    // (~0.1% of keys) and a large (~10%) update batch; across 1×→10×
    // the small-delta cost should track DELTA, not src size. src is
    // sort-on-write clustered by key so file stats stay selective (the
    // deployment posture for a keyed 100 TB table).
    Seq(("1x", sfDir), ("10x", dir10)).foreach { case (tier, dir) =>
      val ordersPath = new Path(s"$dir/orders.parquet")
      val fs2 = ordersPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs2.exists(ordersPath)) {
        val orders = spark.read.parquet(ordersPath.toString)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
        val scratch = s"${graft.queries.Scratch.baseDir}/graft-s100-roll-" +
          java.util.UUID.randomUUID()
        graft.queries.Scratch.deleteOnExit(scratch)
        val src = GraftTable(spark, s"$scratch/src")
        src.append(orders, sortBy = Seq("o_orderkey"),
          sortFiles = Some(32))
        val dst = GraftTable(spark, s"$scratch/dst")
        def maintainSec(): Double = {
          val t0 = System.nanoTime()
          graft.pipeline.IncrementalRollup.maintain(src, dst,
            Seq("o_orderstatus"), Seq("o_totalprice"), "s100",
            minCols = Seq("o_totalprice"), maxCols = Seq("o_totalprice"))
          (System.nanoTime() - t0) / 1e9
        }
        val fullSec = maintainSec() // initial build: the full-scan cost
        def applyAndTime(mod: Long): (Long, Double) = {
          val batch = orders.filter(col("o_orderkey") % mod === 0)
            .withColumn("o_totalprice",
              (col("o_totalprice") * 2).cast("decimal(18,2)"))
          val n = batch.count()
          src.merge(batch, keys = Seq("o_orderkey"),
            dedupKey = Seq("o_orderkey"), orderCol = "o_orderkey",
            mode = "mor")
          (n, maintainSec())
        }
        val (smallN, smallSec) = applyAndTime(997)
        val (largeN, largeSec) = applyAndTime(11)
        val srcRows = orders.count()
        println(s"""{"tier":"$tier","rollup":{"src_rows":$srcRows,""" +
          f""""full_sec":$fullSec%.1f,"small_delta_rows":$smallN,""" +
          f""""small_sec":$smallSec%.1f,"large_delta_rows":$largeN,""" +
          f""""large_sec":$largeSec%.1f}}""")
        spark.sharedState.cacheManager.clearCache(); System.gc()
      }
    }

    // ---- COW merge WRITE AMPLIFICATION vs table size ----
    // The product claim behind MergeInto's file pruning: a keyed upsert
    // rewrites only files whose recorded key ranges can overlap the
    // batch, so a FIXED contiguous-key batch's rewritten file count and
    // bytes stay ~flat as the table grows 10× (files are byte-sized by
    // AQE, so the file COUNT grows with data while each file's key span
    // shrinks — rewritten-bytes flatness is the honest signal). Also
    // records the MOR alternative's cost for the same batch: O(batch)
    // append + tombstone, no read at all.
    Seq(("1x", sfDir), ("10x", dir10)).foreach { case (tier, dir) =>
      val ordersPath = new Path(s"$dir/orders.parquet")
      val fs2 = ordersPath.getFileSystem(spark.sessionState.newHadoopConf())
      if (fs2.exists(ordersPath)) {
        val orders = spark.read.parquet(ordersPath.toString)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_totalprice").cast("decimal(18,2)").as("o_totalprice"))
        val scratch = s"${graft.queries.Scratch.baseDir}/graft-s100-ma-" +
          java.util.UUID.randomUUID()
        graft.queries.Scratch.deleteOnExit(scratch)
        val t = GraftTable(spark, s"$scratch/t")
        // pin file granularity to ~20k rows/file at every tier: the
        // file COUNT grows with data, each file's key span stays fixed
        // — the honest setup for a flat-rewritten-bytes claim (AQE's
        // byte targeting would otherwise fold the 1× tier into one file)
        t.append(orders, sortBy = Seq("o_orderkey"),
          sortFiles = Some(math.max(8, (orders.count() / 20000L).toInt)))
        val nFiles = t.liveFiles().size
        val totBytes = t.bytesFor(t.liveFiles()).values.sum
        // fixed batch: 500 contiguous keys — overlaps O(1) clustered files
        val lo = 1000L
        val batch = orders
          .filter(col("o_orderkey") >= lo && col("o_orderkey") < lo + 500)
          .withColumn("o_totalprice",
            (col("o_totalprice") * 2).cast("decimal(18,2)"))
          .localCheckpoint()
        val bn = batch.count()
        val t0 = System.nanoTime()
        t.merge(batch, keys = Seq("o_orderkey"),
          dedupKey = Seq("o_orderkey"), orderCol = "o_orderkey",
          mode = "cow")
        val cowSec = (System.nanoTime() - t0) / 1e9
        val snap = t.snapshots.last
        val rew = t.removedFilesOf(snap)
        val rewBytes = rew.map(f => t.bytesFor(Seq(f)).getOrElse(f, 0L)).sum
        val t1 = System.nanoTime()
        t.merge(batch, keys = Seq("o_orderkey"),
          dedupKey = Seq("o_orderkey"), orderCol = "o_orderkey",
          mode = "mor")
        val morSec = (System.nanoTime() - t1) / 1e9
        println(s"""{"tier":"$tier","merge_amp":{"table_files":$nFiles,""" +
          s""""table_bytes":$totBytes,"batch_rows":$bn,""" +
          s""""rewritten_files":${rew.size},"rewritten_bytes":$rewBytes,""" +
          f""""cow_sec":$cowSec%.1f,"mor_sec":$morSec%.1f}}""")
        spark.sharedState.cacheManager.clearCache(); System.gc()
      }
    }
    spark.stop()
  }
}
