package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.util.Phase

/** Structured Streaming formulations of the engine's incremental surface.
  * The reference achieves incrementality by checkpointed batch re-runs
  * (SURVEY.md §1.1); these are the always-on equivalents — same semantics,
  * fault-tolerant state, exactly-once file-source tracking.
  */
object Streaming {

  /** Streaming raw→bronze ingest: the file-source replacement for
    * IncrementalFileSource+Checkpoint (S1–S4). New TSVs under `rawDir` are
    * discovered by the source's own checkpoint (no mtime races at all —
    * the N2 fix comes for free), enriched exactly as the batch path. */
  def tsvIngestStream(spark: SparkSession, rawDir: String,
      schema: StructType): DataFrame = {
    val raw = spark.readStream
      .schema(schema)
      .option("sep", "\t")
      .option("header", "true")
      .csv(rawDir)
    graft.ingest.Enrich(raw)
  }

  /** Exactly-once streaming sink into a graft table: each micro-batch is
    * appended with an idempotent-writer stamp `(txnAppId, batchId)` that
    * commits ATOMICALLY inside the snapshot (Delta's txnAppId/txnVersion
    * pattern). Structured Streaming replays a failed micro-batch with the
    * same batchId; the replay finds its stamp already in the chain and
    * becomes a no-op — end-to-end exactly-once into the table, even when
    * a crash lands between the table commit and the stream checkpoint.
    * (Only the most recent batch is ever replayed, so snapshot expiration
    * of old stamps cannot re-open the window.)
    *
    * Start with: graftSink(df, loc, "my-app").option("checkpointLocation",
    * ...).start() */
  def graftSink(stream: DataFrame, location: String, txnAppId: String,
      parts: Seq[String] = Seq.empty)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        Phase.timed("pipeline.bronze")(
          graft.table.GraftTable(batch.sparkSession, location)
            .append(batch.toDF(), parts, txn = Some((txnAppId, batchId))))
        ()
    }

  /** Streaming bronze→gold composition: each micro-batch lands in the
    * BRONZE graft table with the exactly-once txn stamp (as [[graftSink]])
    * and is immediately folded into the GOLD aggregate by
    * [[graft.pipeline.IncrementalRollup.maintain]] — the always-on form
    * of the reference's checkpointed bronze→silver→gold batch reruns
    * (/root/reference/bronze-silver.py), with every incremental layer
    * carrying its own high-water mark:
    *
    *   - a replayed micro-batch (same batchId) finds its txn stamp in
    *     bronze and appends nothing; the follow-up maintain sees an
    *     unmoved tip and is a no-op;
    *   - a crash BETWEEN the bronze append and the maintain loses
    *     nothing: the next batch's (or replay's) maintain reads bronze's
    *     changelog from gold's own recorded tip, catching up exactly —
    *     neither layer needs the stream checkpoint to agree with the
    *     other.
    *
    * Gold maintenance cost per batch is O(batch's changed groups), not
    * O(bronze) — the 100 TB always-on shape. `afterBatch` (test hook)
    * runs after each maintain with (bronze, gold). */
  def graftRollupSink(stream: DataFrame, bronzeLoc: String, goldLoc: String,
      txnAppId: String, keys: Seq[String], sumCols: Seq[String],
      parts: Seq[String] = Seq.empty,
      afterBatch: (graft.table.GraftTable, graft.table.GraftTable) => Unit =
        (_, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val bronze = graft.table.GraftTable(batch.sparkSession, bronzeLoc)
        val gold = graft.table.GraftTable(batch.sparkSession, goldLoc)
        Phase.timed("pipeline.bronze")(
          bronze.append(batch.toDF(), parts, txn = Some((txnAppId, batchId))))
        graft.pipeline.IncrementalRollup.maintain(bronze, gold, keys,
          sumCols, s"$txnAppId-rollup")
        afterBatch(bronze, gold)
        ()
    }

  /** Streaming bronze→silver MERGE sink: the reference's keyed CDC
    * upsert (/root/reference/bronze-silver.py:249-286) as an ALWAYS-ON
    * stream. Each micro-batch is window-deduped keep-latest per
    * `dedupKey` ([[graft.table.MergeInto.dedupLatest]] — the reference's
    * ROW_NUMBER...rn=1, including its N4 coarser-dedup-key quirk) and
    * MERGEd into the silver graft table: WHEN MATCHED → full-row
    * replace, WHEN NOT MATCHED → INSERT, and (engine extension, off by
    * default like the batch path) op∈deleteOps → DELETE.
    *
    * Exactly-once: the merge commits with the idempotent-writer stamp
    * `(txnAppId, batchId)` ATOMICALLY inside the snapshot, so a crash
    * between the table commit and the stream checkpoint replays the
    * micro-batch into a no-op — the same guarantee as [[graftSink]],
    * extended to row-level rewrites. `mode = "mor"` (default — silver's
    * own table format in the reference) keeps the per-batch write
    * O(batch): the batch appends + one key-tombstone file, never a
    * table-sized rewrite, which is the only always-on-viable shape at
    * 100 TB; "cow"/"auto" are honored for workloads that prefer
    * read-amplification-free files.
    *
    * First micro-batch creates the silver table from the batch schema
    * (minus the op column — CDC metadata is not silver state).
    * `afterBatch` (test hook) runs after each merge with the table. */
  def graftMergeSink(stream: DataFrame, silverLoc: String, txnAppId: String,
      keys: Seq[String], dedupKey: Seq[String], orderCol: String,
      opCol: Option[String] = None, deleteOps: Seq[String] = Seq("D"),
      mode: String = "mor",
      afterBatch: graft.table.GraftTable => Unit = _ => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val silver = graft.table.GraftTable(batch.sparkSession, silverLoc)
        Phase.timed("pipeline.silver") {
          createSilver(silver, batch.schema, opCol)
          silver.merge(batch.toDF(), keys = keys, dedupKey = dedupKey,
            orderCol = orderCol, opCol = opCol, deleteOps = deleteOps,
            mode = mode, txn = Some((txnAppId, batchId)))
        }
        afterBatch(silver)
        ()
    }

  /** The COMPLETE always-on medallion: per micro-batch,
    *
    *   bronze  — raw append with the (appId, batchId) txn stamp
    *             ([[graftSink]] semantics);
    *   silver  — keep-latest window dedup + keyed MOR merge, stamped
    *             with the same (appId, batchId) ([[graftMergeSink]]);
    *   gold    — [[graft.pipeline.IncrementalRollup.maintain]] folds
    *             SILVER's changelog (inserts AND the merge's
    *             retractions) into the aggregate, high-water-marked by
    *             gold's own txn stamp.
    *
    * This is the reference's full raw→bronze→silver→gold pipeline
    * (/root/reference/raw-bronze.py + bronze-silver.py) as ONE
    * always-on stream. Crash anywhere between layers loses nothing:
    * a replayed batch no-ops into bronze and silver (stamps), and the
    * gold maintain reads silver's changelog from gold's own recorded
    * tip — the layers never need the stream checkpoint to agree.
    * Per-batch cost: O(batch) bronze write + O(batch) silver MOR merge
    * + O(changed groups) gold maintenance — nothing scales with table
    * size, the only viable always-on shape at 100 TB. */
  def graftMedallionSink(stream: DataFrame, bronzeLoc: String,
      silverLoc: String, goldLoc: String, txnAppId: String,
      keys: Seq[String], dedupKey: Seq[String], orderCol: String,
      rollupKeys: Seq[String], sumCols: Seq[String],
      opCol: Option[String] = None, deleteOps: Seq[String] = Seq("D"),
      afterBatch: (graft.table.GraftTable, graft.table.GraftTable,
        graft.table.GraftTable) => Unit = (_, _, _) => ())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val spark = batch.sparkSession
        val bronze = graft.table.GraftTable(spark, bronzeLoc)
        val silver = graft.table.GraftTable(spark, silverLoc)
        val gold = graft.table.GraftTable(spark, goldLoc)
        createSilver(silver, batch.schema, opCol)
        // bronze keeps the RAW batch (op column included — CDC history
        // is bronze's value); silver/gold hold the merged state. The
        // bronze append and the silver merge are INDEPENDENT writes of
        // the same batch into different tables — overlap them so
        // bronze's jobs back-fill the merge's stragglers. Exactly-once
        // is unchanged: each table's own (appId, batchId) txn stamp
        // makes a replay after any partial failure a per-table no-op,
        // whichever side landed. Bronze is joined before the batch is
        // declared done or failed (and before afterBatch reads it).
        graft.util.Overlap(spark)(Phase.timed("pipeline.bronze")(
          bronze.append(batch.toDF(), txn = Some((txnAppId, batchId))))) {
          Phase.timed("pipeline.silver")(
            silver.merge(batch.toDF(), keys = keys, dedupKey = dedupKey,
              orderCol = orderCol, opCol = opCol, deleteOps = deleteOps,
              mode = "mor", txn = Some((txnAppId, batchId))))
          // gold depends only on silver
          graft.pipeline.IncrementalRollup.maintain(silver, gold,
            rollupKeys, sumCols, s"$txnAppId-gold")
        }
        afterBatch(bronze, silver, gold)
        ()
    }

  /** First micro-batch: create silver from the batch schema minus the
    * op column (CDC metadata is not silver state). */
  private def createSilver(silver: graft.table.GraftTable,
      schema: StructType, opCol: Option[String]): Unit =
    if (!silver.exists)
      silver.create(StructType(schema.fields.filterNot(f =>
        opCol.contains(f.name))))

  /** Streaming exact dedup: keep only the FIRST occurrence of each
    * content fingerprint — the streaming face of Dedup.exactRows for a
    * continuously-ingesting corpus, backed by the checkpoint
    * (exactly-once with graftSink).
    *
    * Without `eventTimeCol`, state is one fingerprint per distinct
    * content for the stream's LIFETIME — that is the exact-dedup
    * contract, and it grows with distinct documents (a watermark alone
    * would NOT evict dropDuplicates state keyed only on the fingerprint).
    * For an unbounded stream, pass `eventTimeCol`: the stream is
    * watermarked by `lateness` and deduped via
    * dropDuplicatesWithinWatermark, so Spark drops a fingerprint's state
    * once the watermark passes it — bounded state, with dedup guaranteed
    * only for duplicates arriving within the watermark window. */
  def dedupStream(stream: DataFrame, textCol: String,
      eventTimeCol: Option[String] = None,
      lateness: String = "1 hour"): DataFrame = {
    val withFp = stream.withColumn("fp",
      graft.functions.TextFunctions.fingerprint_md5(
        org.apache.spark.sql.functions.col(textCol)))
    val deduped = eventTimeCol match {
      case Some(ts) => withFp.withWatermark(ts, lateness)
        .dropDuplicatesWithinWatermark("fp")
      case None => withFp.dropDuplicates("fp")
    }
    deduped.drop("fp") // internal key, not part of the caller's schema
  }

  /** Event-time windowed rollup with a watermark: late events beyond
    * `lateness` are dropped, state is bounded — the 100 TB-safe shape for
    * continuous aggregation. */
  def windowedCounts(events: DataFrame, tsCol: String, window_ : String,
      lateness: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  case class Event(user_id: Long, ts_us: Long, value: Double)
  case class SessionState(start: Long, last: Long, n: Int, total: Double)
  case class SessionOut(user_id: Long, start_us: Long, end_us: Long,
      n_events: Int, total_value: Double)

  /** Stateful sessionization via flatMapGroupsWithState: a session closes
    * after `gapUs` of inactivity (processing-time timeout drives emission
    * of the final open session). The batch formulation of the same
    * semantics is EventsQueries.qEventsSessions — the spec checks they
    * agree on session counts. */
  def sessionize(events: Dataset[Event], gapUs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[List[SessionState], SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[Event],
         state: GroupState[List[SessionState]]) =>
          // Sort this micro-batch's events; fold them into sessions, closing
          // a session whenever the gap is exceeded.
          val sorted = rows.toSeq.sortBy(_.ts_us)
          var open = state.getOption.getOrElse(Nil).headOption
          val closed = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { e =>
            open match {
              case Some(s) if e.ts_us - s.last <= gapUs =>
                // cross-batch late event: merge, but never move the session
                // boundary backwards (last = max), or an out-of-order event
                // would produce end < start and wrong later splits
                open = Some(s.copy(
                  start = math.min(s.start, e.ts_us),
                  last = math.max(s.last, e.ts_us),
                  n = s.n + 1, total = s.total + e.value))
              case Some(s) =>
                closed += SessionOut(userId, s.start, s.last, s.n, s.total)
                open = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
              case None =>
                open = Some(SessionState(e.ts_us, e.ts_us, 1, e.value))
            }
          }
          open match {
            case Some(s) => state.update(List(s))
            case None => state.remove()
          }
          closed.iterator
      }
  }

  /** Batch view of ALL sessions (closed and still-open) — the ground-truth
    * formulation used to reconcile the streaming output (streaming state
    * can't be read directly; production would use a timeout to emit final
    * open sessions). */
  def allSessions(events: Dataset[Event], gapUs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts_us")
    val marked = events.toDF()
      .withColumn("prev", lag(col("ts_us"), 1).over(byUser))
      .withColumn("new_s",
        when(col("prev").isNull || col("ts_us") - col("prev") > gapUs, 1)
          .otherwise(0))
      .withColumn("sid", sum(col("new_s")).over(
        byUser.rowsBetween(Window.unboundedPreceding, 0)))
    marked.groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_us")).as("start_us"), max(col("ts_us")).as("end_us"),
        count(lit(1)).cast("int").as("n_events"),
        sum(col("value")).as("total_value"))
      .select(col("user_id"), col("start_us"), col("end_us"),
        col("n_events"), col("total_value"))
      .as[SessionOut]
  }

  /** Streaming sink INTO a FOREIGN Iceberg tree: each micro-batch
    * commits via [[graft.iceberg.IcebergWriteBack.appendTo]] with the
    * (appId, batchId) stamp carried in the snapshot SUMMARY (Iceberg's
    * property bag — the same atomic-with-the-commit idempotence Delta's
    * txnAppId/txnVersion gives), so a replayed batch finds its
    * high-water mark in the metadata.json chain and no-ops. With this,
    * a Structured Streaming pipeline lands exactly-once in a table that
    * Trino/DuckDB/Athena read live — the reference's multi-engine
    * contract with a STREAM as the writer. */
  def icebergSink(stream: DataFrame, tableLocation: String,
      txnAppId: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.iceberg.IcebergWriteBack.appendTo(batch.sparkSession,
          tableLocation, batch.toDF(), txn = Some((txnAppId, batchId)))
        ()
    }

  /** [[icebergSink]] against a CATALOG-OWNED table: each micro-batch
    * resolves `identifier` through the REST catalog and commits back
    * THROUGH it ([[graft.iceberg.IcebergWriteBack.appendToCatalog]] —
    * add-snapshot + set-snapshot-ref guarded by
    * assert-ref-snapshot-id), so the stream lands exactly-once in a
    * table whose current-version pointer the catalog owns: the
    * production streaming shape (a 409 fails the batch loud and the
    * retry re-resolves; a replayed batch finds its (appId, batchId)
    * stamp in the snapshot summaries and no-ops). */
  /** `maintainEvery = N` (0 = off) runs catalog-owned MAINTENANCE after
    * every Nth batch's commit: rewrite_manifests + small-file compaction
    * + position-tombstone consolidation, each its own replace commit
    * THROUGH the catalog. A per-commit streaming table is exactly the
    * table that accretes manifests/small files fastest, so the sink is
    * self-maintaining: manifest-list length stays bounded instead of
    * growing one entry per micro-batch. Maintenance composes with
    * concurrent committers single-winner: a lost assert (409) is logged
    * and SKIPPED — the data batch already landed, and the next trigger
    * retries the cleanup against fresh state. */
  def icebergCatalogSink(stream: DataFrame, catalogUri: String,
      identifier: String, txnAppId: String, maintainEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.iceberg.IcebergWriteBack.appendToCatalog(
          batch.sparkSession, catalogUri, identifier, batch.toDF(),
          txn = Some((txnAppId, batchId)))
        maybeMaintain(batch.sparkSession, catalogUri, identifier,
          batchId, maintainEvery)
        ()
    }

  /** Every-N-commits catalog maintenance for the streaming sinks: one
    * compaction + manifest consolidation + tombstone consolidation
    * round, all committed THROUGH the catalog. 409s (a concurrent
    * committer won the replace) are logged and skipped — single-winner
    * by construction, never a failed batch. */
  private def maybeMaintain(spark: SparkSession, catalogUri: String,
      identifier: String, batchId: Long, maintainEvery: Int): Unit = {
    if (maintainEvery <= 0 || batchId == 0 ||
        batchId % maintainEvery != 0) return
    val cat = Some((catalogUri, identifier))
    def attempt(what: String)(op: String => Long): Unit =
      try {
        val handle = graft.catalog.RestCatalog
          .loadTableMetadataLocation(catalogUri, identifier)
        op(handle); ()
      } catch {
        // maintenance is OPTIONAL cleanup and the data batch already
        // committed — NO maintenance failure may fail the batch (it
        // would crash-loop the query on an error the replayed batch
        // re-hits every restart). 409 = lost a concurrent commit;
        // anything else is logged the same way and retried next
        // trigger.
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"graft: sink maintenance $what on " +
            s"$identifier skipped (${e.getMessage}) — " +
            "the next trigger retries")
      }
    attempt("compact")(h => graft.iceberg.IcebergWriteBack
      .compactSmallFiles(spark, h, catalog = cat))
    attempt("rewrite_position_deletes")(h => graft.iceberg
      .IcebergWriteBack.rewritePositionDeletes(spark, h, catalog = cat))
    attempt("rewrite_manifests")(h => graft.iceberg.IcebergWriteBack
      .rewriteManifests(spark, h, catalog = cat))
  }

  /** [[icebergMergeSink]] against a CATALOG-OWNED table: per
    * micro-batch keep-latest dedup, then
    * [[graft.iceberg.IcebergWriteBack.mergeIntoCatalog]] — the
    * streaming CDC upsert landing THROUGH the REST catalog with the
    * same exactly-once txn stamp (v2 trees; equality deletes by
    * default, so no target scan per batch). */
  def icebergCatalogMergeSink(stream: DataFrame, catalogUri: String,
      identifier: String, txnAppId: String, keys: Seq[String],
      orderCol: String, equalityDeletes: Boolean = true,
      maintainEvery: Int = 0)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(orderCol).desc)
        val latest = batch.toDF()
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        // resolve ONCE per batch: the projection schema and the merged
        // tree must come from the same metadata version (two
        // resolutions would race a concurrent schema evolve)
        val handle = graft.catalog.RestCatalog
          .loadTableMetadataLocation(catalogUri, identifier)
        val schemaCols = graft.iceberg.IcebergImport
          .plan(batch.sparkSession, handle).schema.fieldNames
        graft.iceberg.IcebergWriteBack.mergeInto(
          batch.sparkSession, handle,
          latest.select(schemaCols.map(col).toIndexedSeq: _*), keys,
          equalityDeletes = equalityDeletes,
          txn = Some((txnAppId, batchId)),
          catalog = Some((catalogUri, identifier)))
        maybeMaintain(batch.sparkSession, catalogUri, identifier,
          batchId, maintainEvery)
        ()
    }

  /** Streaming CDC UPSERT into a FOREIGN Iceberg tree: per micro-batch,
    * keep-latest window dedup on `keys` by `orderCol`, then
    * [[graft.iceberg.IcebergWriteBack.mergeInto]] — by default with
    * EQUALITY deletes, so the upsert never scans the target (O(batch)
    * per batch, the Flink-writer shape at 100 TB). Exactly-once via the
    * same snapshot-summary txn stamp as [[icebergSink]]. */
  def icebergMergeSink(stream: DataFrame, tableLocation: String,
      txnAppId: String, keys: Seq[String], orderCol: String,
      equalityDeletes: Boolean = true)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy(col(orderCol).desc)
        val latest = batch.toDF()
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        // project to the tree's CURRENT schema: CDC metadata columns
        // (the order column, op markers) stay out of the table
        val schemaCols = graft.iceberg.IcebergImport
          .plan(batch.sparkSession, tableLocation).schema.fieldNames
        graft.iceberg.IcebergWriteBack.mergeInto(batch.sparkSession,
          tableLocation, latest.select(schemaCols.map(col).toIndexedSeq: _*),
          keys, equalityDeletes = equalityDeletes,
          txn = Some((txnAppId, batchId)))
        ()
    }
}
