package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graftglue.GraftSqlGlue
import org.apache.spark.sql.types.StructType

import graft.iceberg.IcebergImport

/** Structured Streaming SOURCE over a FOREIGN Iceberg v2 table — the
  * streaming twin of [[graft.iceberg.IcebergImport.readChanges]], and
  * the continuous form of the reference's bronze→silver loop, which
  * re-runs checkpointed incremental pulls of an Iceberg table another
  * engine keeps appending to (/root/reference/bronze-silver.py:121-149).
  * `spark.readStream.format("graft-iceberg").load(path)`.
  *
  * Offsets ARE foreign snapshot ids ([[LongOffset]]): the first batch
  * delivers the table's full state at the then-current snapshot (a plain
  * import read), every later batch the `(lastOffset, tip]` append delta.
  * Exactly-once end to end: the offset log pins foreign snapshot ids, and
  * a replayed batch re-reads the identical file set (the delta is a pure
  * function of the two snapshot ids over an immutable metadata tree).
  *
  * A non-append foreign commit (overwrite / delete) inside an
  * uncommitted range FAILS the stream — [[IcebergImport.readChanges]]'s
  * rule; an increment is undefined across a rewrite and silently
  * re-delivering or skipping rows would corrupt the sink. A `replace`
  * (compaction — same logical rows) also fails by default, but
  * `.option("skipRewrites", true)` opts into Iceberg's
  * streaming-skip-overwrite semantics: appends keep flowing, attributed
  * per append snapshot so a later in-range compaction cannot double- or
  * under-deliver.
  *
  * getOffset polls only metadata.json (no manifest walk), so idle ticks
  * cost one small file read.
  *
  * `.option("mode", "cdc")` switches the delivery contract from
  * append-rows to PER-COMMIT CHANGE ROWS ([[IcebergImport.diffPerCommit]]):
  * every row carries `_change_type` / `_change_ordinal` /
  * `_commit_snapshot_id`, batch 0 is the full state as inserts, and —
  * the point — foreign merges/deletes/overwrites no longer fail the
  * stream: an append commit in a batch range still flows metadata-only,
  * a compaction is silent, and a rewriting commit delivers its
  * pre-image delete + post-image insert pairs. Replay stays
  * exactly-once as a BAG per batch: the change set is a pure function
  * of the two offset snapshot ids over the immutable tree. */
class IcebergStreamSource(spark: SparkSession, location: String,
    skipRewrites: Boolean = false, cdc: Boolean = false) extends Source {

  override val schema: StructType = {
    val p = IcebergImport.plan(spark, location)
    // plan schemas carry parquet.field.id markers for the scan; the
    // stream's public schema is the plain form
    val base = StructType(p.schema.map(f =>
      f.copy(metadata = org.apache.spark.sql.types.Metadata.empty)))
    if (!cdc) base else StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("_change_ordinal",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_snapshot_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
  }

  private def toId(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json().trim.toLong
  }

  override def getOffset: Option[Offset] =
    IcebergImport.currentSnapshotId(spark, location).map(LongOffset(_))

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endId = toId(end)
    import org.apache.spark.sql.functions.lit
    val batch = start match {
      case None => // first batch: the full state at the pinned snapshot
        val full = IcebergImport.read(spark, location, Some(endId.toString))
        if (!cdc) full
        else full.withColumn("_change_type", lit("insert"))
          .withColumn("_change_ordinal", lit(0))
          .withColumn("_commit_snapshot_id", lit(endId))
      case Some(s) =>
        val startId = toId(s)
        // EQUALITY only: foreign engines generate RANDOM snapshot ids,
        // so numeric order says nothing about lineage — a `startId >
        // endId` short-circuit would silently drop a whole batch range
        // whenever a foreign commit drew a smaller id than the pinned
        // offset. Ordering comes from the ancestry walk inside
        // readChanges/diffPerCommit, which fails LOUD when `end` is not
        // a descendant of `start` (diverged/rolled-back history) instead
        // of committing an empty batch over lost rows.
        if (startId == endId) graft.table.GraftTable.emptyFrame(spark, schema)
        else if (cdc) IcebergImport.diffPerCommit(spark, location,
          startId, Some(endId.toString))
        else IcebergImport.readChanges(spark, location, startId,
          Some(endId.toString), skipRewrites)
    }
    GraftSqlGlue.streamingDataFrame(spark, batch)
  }

  override def stop(): Unit = {}
}
