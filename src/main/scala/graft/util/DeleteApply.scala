package graft.util

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Merge-on-read delete application: the one implementation of the
  * Iceberg v2 row-level delete rules, shared by the native read
  * (`GraftTable`) and the foreign one (`IcebergImport`). The input is
  * ONE data scan whose rows carry their data file (the scan's
  * `_metadata.file_path`), their ordinal in it (`_metadata.row_index`,
  * needed only for position deletes) and their data sequence number.
  * A delete hits a row only when its own sequence ([[SeqCol]]) is late
  * enough (https://iceberg.apache.org/spec/#scan-planning): an equality
  * delete when `deleteSeq > dataSeq` (a commit's tombstones never hit
  * its own inserts), a position delete when `deleteSeq >= dataSeq`.
  * One anti-join runs per equality key-column set and one for all
  * position deletes, however many delete sequences apply. */
object DeleteApply {

  /** The delete-sequence column every delete side carries. */
  val SeqCol = "__delete_seq__"

  /** The columns a position-delete file is read by (the Iceberg spec's
    * `file_path`, `pos`; graft's position tombstones use the same). */
  val PositionSchema: StructType = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** The deletes of one equality key-column set: `rows` carry [[SeqCol]]
    * and what `matches(data, rows)`, the caller's key (and scope)
    * condition, compares; `bytes` is their recorded size. */
  case class Equality(rows: DataFrame, bytes: Long,
      matches: (DataFrame, DataFrame) => Column)

  /** All position deletes: `rows` carry (`file_path`, `pos`, [[SeqCol]])
    * and `scanUris` maps each recorded `file_path` to the scan's file
    * column (names outside the scan drop out). */
  case class Positions(rows: DataFrame, bytes: Long,
      scanUris: Seq[(String, String)])

  /** The `_metadata.file_path` a Spark scan reports for the file it opens
    * at `path`: percent-encoded, no empty authority (`file:/t/a%20b`). */
  def scanUri(fs: FileSystem, path: Path): String = {
    val u = fs.makeQualified(path).toUri
    new java.net.URI(u.getScheme,
      Option(u.getAuthority).filter(_.nonEmpty).orNull, u.getPath,
      null, null).toString
  }

  /** `deletes`, a scan of delete files, with each row's [[SeqCol]] looked
    * up from its own file's `_metadata.file_path` in `seqOf` (keyed in
    * [[scanUri]] form), so delete files of many sequences share one
    * scan; a scanned file missing from `seqOf` fails the query. */
  def withSeq(deletes: DataFrame, seqOf: Map[String, Long]): DataFrame =
    deletes.withColumn(SeqCol, coalesce(
      element_at(typedLit(seqOf), col("_metadata.file_path")),
      raise_error(concat(lit("no delete sequence for scanned file "),
        col("_metadata.file_path"))).cast("long")))

  /** `scan` joined to `info` (per file, keyed by `fileCol` in [[scanUri]]
    * form); a scanned file without an info row fails the query. */
  def withFileInfo(scan: DataFrame, info: DataFrame, fileCol: String,
      seqCol: String): DataFrame =
    scan.join(info, Seq(fileCol), "left").withColumn(seqCol,
      coalesce(col(seqCol), raise_error(concat(
        lit("no data sequence for scanned file "), col(fileCol)))
        .cast("long")))

  /** `scan` minus the rows `equality` and `positions` delete. `scan`
    * carries `fileCol` and `seqCol`, and `posCol` when `positions` is
    * set; the result keeps exactly the columns of `scan`. */
  def apply(scan: DataFrame, fileCol: String, posCol: String,
      seqCol: String, equality: Seq[Equality],
      positions: Option[Positions]): DataFrame = Phase.timed("deletes.apply") {
    val afterEq = equality.foldLeft(scan) { (data, e) =>
      data.join(gated(e.rows, e.bytes),
        e.matches(data, e.rows) && e.rows(SeqCol) > data(seqCol),
        "left_anti")
    }
    positions.fold(afterEq) { p =>
      // a LocalRelation: the planner broadcasts it by its own stats
      val uris = scan.sparkSession.createDataFrame(p.scanUris)
        .toDF("__delete_name__", "__delete_file__")
      val del = p.rows
        .join(uris, col("file_path") === col("__delete_name__"))
        .select(col("__delete_file__"), col("pos").as("__delete_pos__"),
          col(SeqCol))
      afterEq.join(gated(del, p.bytes),
        afterEq(fileCol) === del("__delete_file__") &&
          afterEq(posCol) === del("__delete_pos__") &&
          del(SeqCol) >= afterEq(seqCol), "left_anti")
    }
  }

  /** `df` broadcast-hinted while `bytes` fits the session's
    * autoBroadcastJoinThreshold. An explicit hint overrides the
    * planner's own size check, so a large delete backlog is left
    * unhinted for the planner and AQE to size from its stats. */
  def gated(df: DataFrame, bytes: Long): DataFrame = {
    val max = df.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (max > 0 && bytes > 0 && bytes <= max) broadcast(df) else df
  }
}
