package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.graftglue.GraftSqlGlue
import org.apache.spark.sql.types.StructType

import graft.table.GraftTable

/** Structured Streaming SOURCE over a graft table — the read-side twin of
  * [[Streaming.graftSink]], completing the table-as-a-stream loop the
  * reference builds by re-running checkpointed batch pulls
  * (/root/reference/bronze-silver.py:121-149; Iceberg's own streaming
  * read has the same shape).
  *
  * Offsets ARE snapshot ids (a [[LongOffset]]): the first batch delivers
  * the table's full state as of the current tip, every later batch the
  * files appended in `(lastOffset, tip]` — exactly-once end to end,
  * because the offset log and the snapshot log advance in lockstep and
  * replayed batches re-read identical file sets.
  *
  * A rewrite (merge/overwrite/compact/rollback) inside an uncommitted
  * range fails the stream by default (an increment is undefined across
  * it); `.option("skipRewrites", true)` opts into Iceberg's
  * streaming-skip-overwrite semantics — append snapshots keep flowing,
  * rewrite-delivered rows are skipped. */
class GraftStreamSource(spark: SparkSession, location: String,
    skipRewrites: Boolean) extends Source {

  private val table = GraftTable(spark, location)

  override val schema: StructType = table.schema

  private def toId(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json().trim.toLong
  }

  override def getOffset: Option[Offset] =
    table.latestSnapshotId.map(LongOffset(_))

  /** A Source must return batches under its DECLARED (stream-start)
    * schema forever — but a mid-stream evolve makes incremental reads
    * resolve under the evolved schema. Project back: columns added
    * after stream start are not delivered (restart the stream to pick
    * them up, Spark's own semantics for evolving file sources), and a
    * column dropped mid-stream null-fills instead of killing the
    * stream. */
  private def conform(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    if (df.schema == schema) return df
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) {
        val actual = df.schema(f.name).dataType
        if (actual == f.dataType) col(f.name)
        // SAFE upcasts conform (a restarted post-widen stream replays
        // its checkpointed pre-widen batch, which reads under the OLD
        // narrower schema — refusing the upcast would loop forever);
        // only a NARROWING change throws, since casting widened values
        // down would overflow (ANSI) or silently wrap
        else if (org.apache.spark.sql.catalyst.expressions.Cast
            .canUpCast(actual, f.dataType))
          col(f.name).cast(f.dataType)
        else throw new UnsupportedOperationException(
          s"column ${f.name} changed type mid-stream " +
            s"(${f.dataType.simpleString} -> ${actual.simpleString}); " +
            "restart the stream to adopt the evolved schema")
      } else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*)
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endId = toId(end)
    val batch = start match {
      case None => table.readAsOf(endId) // first batch: full current state
      case Some(s) =>
        val startId = toId(s)
        if (startId >= endId) GraftTable.emptyFrame(spark, schema)
        else table.readIncremental(startId, endId, skipRewrites)
    }
    GraftSqlGlue.streamingDataFrame(spark, conform(batch))
  }

  override def stop(): Unit = {}
}
