package graft.ingest

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.util.Phase

/** Job-level watermark checkpoint — the reference's JSON checkpoint files
  * ({last_processed_time}, /root/reference/raw-bronze.py:36-53,87-99;
  * {last_processed_snapshot}, /root/reference/bronze-silver.py:75-109).
  *
  * Fixes two reference bugs noted in SURVEY.md §2:
  *   N2 — we checkpoint max(mtime of processed files), not commit wall-time,
  *        so files that land mid-run are picked up next run;
  *   N3 — load/save work symmetrically for any Hadoop-supported scheme
  *        (the reference's silver save is S3-only and silently no-ops
  *        locally).
  */
class Checkpoint(spark: SparkSession, location: String) {
  private val path = new Path(location)
  private def fs: FileSystem =
    path.getFileSystem(spark.sessionState.newHadoopConf())

  def load(key: String): Option[Long] = {
    if (!fs.exists(path)) return None
    val in = fs.open(path)
    try {
      val len = fs.getFileStatus(path).getLen.toInt
      val bytes = new Array[Byte](len)
      in.readFully(bytes)
      val s = new String(bytes, "UTF-8")
      val m = ("\"" + key + "\"\\s*:\\s*(-?\\d+)").r
      m.findFirstMatchIn(s).map(_.group(1).toLong)
    } finally in.close()
  }

  /** Commit AFTER a successful load, as the reference orders it
    * (/root/reference/raw-bronze.py:249-253). Single atomic OVERWRITE
    * rename — a crash leaves either the old or the new checkpoint, never
    * none (delete-then-rename would lose the watermark and re-ingest
    * everything). */
  def save(key: String, value: Long): Unit = saveJson(s"""{"$key": $value}""")

  /** Load a string list stored by [[saveWithFiles]]. */
  def loadFiles(key: String): Seq[String] = {
    if (!fs.exists(path)) return Seq.empty
    val in = fs.open(path)
    try {
      val len = fs.getFileStatus(path).getLen.toInt
      val bytes = new Array[Byte](len)
      in.readFully(bytes)
      val s = new String(bytes, "UTF-8")
      val m = ("\"" + key + "\"\\s*:\\s*\\[([^\\]]*)\\]").r
      m.findFirstMatchIn(s).map(_.group(1)).toSeq
        .flatMap(_.split(",")).map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty)
    } finally in.close()
  }

  /** Save a watermark plus the names seen AT the watermark (mtime-boundary
    * bookkeeping — see IncrementalFileSource). */
  def saveWithFiles(key: String, value: Long, filesKey: String,
      files: Seq[String]): Unit = {
    val arr = files.map(f => "\"" + f.replace("\"", "") + "\"")
      .mkString("[", ",", "]")
    saveJson(s"""{"$key": $value, "$filesKey": $arr}""")
  }

  private def saveJson(json: String): Unit = {
    val tmp = new Path(path.getParent,
      s".${path.getName}.tmp-${java.util.UUID.randomUUID()}")
    fs.mkdirs(path.getParent)
    val out = fs.create(tmp, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      path.toUri, spark.sessionState.newHadoopConf())
    fc.rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }
}

/** S1–S3: checkpointed discovery of newly arrived raw files. The reference
  * lists a prefix and keeps files with mtime > checkpoint
  * (/root/reference/raw-bronze.py:59-85); the Hadoop FileSystem API gives us
  * the same over file://, hdfs://, or s3a:// with one code path.
  *
  * Scale note: listing is driver-side metadata (as in the reference); at
  * production scale the same contract is served by Structured Streaming's
  * file source (see graft.streaming), which tracks seen-files in a
  * fault-tolerant checkpoint instead of an mtime watermark.
  */
class IncrementalFileSource(spark: SparkSession, dir: String,
    suffix: String = ".tsv") {
  private val dirPath = new Path(dir)
  private def fs: FileSystem =
    dirPath.getFileSystem(spark.sessionState.newHadoopConf())

  /** Files to process given the previous watermark and the file names
    * already processed AT that exact watermark. A strict mtime-> filter
    * alone loses files that land within the watermark's mtime granularity
    * after the listing (same-second arrivals); instead, files AT the
    * watermark are re-listed and filtered against `seenAtWatermark`.
    * Returns (paths, newWatermark, namesAtNewWatermark). */
  def newFiles(afterMtime: Long,
      seenAtWatermark: Seq[String] = Seq.empty)
      : (Seq[String], Long, Seq[String]) = Phase.timed("ingest.discover") {
    if (!fs.exists(dirPath)) return (Seq.empty, afterMtime, seenAtWatermark)
    val seen = seenAtWatermark.toSet // O(1) membership over the listing
    val it = fs.listFiles(dirPath, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (name.endsWith(suffix) &&
          (f.getModificationTime > afterMtime ||
            (f.getModificationTime == afterMtime &&
              !seen.contains(name))))
        out += ((f.getPath.toString, f.getModificationTime))
    }
    if (out.isEmpty) return (Seq.empty, afterMtime, seenAtWatermark)
    val sorted = out.sortBy(_._1)
    val newWm = out.map(_._2).max
    val atWm = out.filter(_._2 == newWm).map(_._1.split('/').last) ++
      (if (newWm == afterMtime) seenAtWatermark else Seq.empty)
    (sorted.map(_._1).toSeq, newWm, atWm.distinct.toSeq)
  }
}

/** S4: TSV batch scan with header + schema inference — the reference's
  * `spark.read.csv(files, sep='\t', header=True, inferSchema=True)`
  * (/root/reference/raw-bronze.py:117-128). */
object TsvReader {
  def read(spark: SparkSession, paths: Seq[String]): DataFrame =
    Phase.timed("ingest.read")(spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(paths: _*))
}

/** P1–P5: the ingest enrichment — star projection plus lineage columns
  * (input_file, processed_time, processed_date) and the conjunctive
  * numeric quality filter, exactly the reference's SQL
  * (/root/reference/raw-bronze.py:207-217). Expressed as a declarative
  * projection so Catalyst pushes the filter into the CSV scan. */
object Enrich {
  import org.apache.spark.sql.functions._

  def apply(df: DataFrame): DataFrame =
    df.withColumn("input_file", input_file_name())
      .withColumn("processed_time", current_timestamp())
      .withColumn("processed_date",
        date_format(current_timestamp(), "yyyy-MM-dd"))
      .filter(col("price") > 0 && col("quantity") > 0)
}
