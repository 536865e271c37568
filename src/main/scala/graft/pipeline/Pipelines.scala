package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import graft.ingest.{Checkpoint, Enrich, IncrementalFileSource, TsvReader}
import graft.schema.AvroSchemaConverter
import graft.table.GraftTable
import graft.util.Phase

/** E1 — raw → bronze ingest (/root/reference/raw-bronze.py:197-264):
  * checkpointed discovery of new TSVs, schema-inferred batch read, SQL
  * enrichment + filtering, append to a partitioned bronze table, commit the
  * checkpoint only after a successful load.
  */
class RawToBronze(
    spark: SparkSession,
    rawDir: String,
    bronzeDir: String,
    checkpointPath: String) {

  private val ckpt = new Checkpoint(spark, checkpointPath)
  private val source = new IncrementalFileSource(spark, rawDir)

  /** One incremental run; returns #rows ingested THIS run (0 = no new
    * files). */
  def run(): Long = Phase.timed("pipeline.bronze") {
    val last = ckpt.load("last_processed_mtime").getOrElse(0L)
    val seen = ckpt.loadFiles("files_at_mtime")
    val (files, maxMtime, atWm) = source.newFiles(last, seen)
    if (files.isEmpty) return 0L

    val raw = TsvReader.read(spark, files)
    val enriched = Enrich(raw)

    val bronze = GraftTable(spark, bronzeDir)
    val tip = bronze.append(enriched, parts = Seq("processed_date"))
    // rows this batch contributed (post-commit readback of the appended
    // snapshot only — not a full-table scan)
    val n = bronze.readIncremental(tip - 1, tip).count()

    // N2 fix: watermark = max mtime of *processed* files (not wall-clock),
    // plus the names at that mtime so same-granularity late arrivals are
    // still picked up next run.
    ckpt.saveWithFiles("last_processed_mtime", maxMtime,
      "files_at_mtime", atWm)
    n
  }
}

/** E2 — bronze → silver incremental CDC upsert
  * (/root/reference/bronze-silver.py:219-321): read the bronze snapshot
  * range since the last checkpoint, dedup keep-latest per invoiceid, MERGE
  * into the silver table keyed (invoiceid, itemid), checkpoint the snapshot.
  *
  * Reproduces the reference's semantic quirks on purpose (SURVEY.md §2):
  * N1 — Op codes carried but never interpreted (no delete);
  * N4 — dedup key (invoiceid) is coarser than the merge key
  *       (invoiceid, itemid).
  */
class BronzeToSilver(
    spark: SparkSession,
    bronzeDir: String,
    silverDir: String,
    checkpointPath: String,
    /** engine extension (default off = exact reference semantics, N1):
      * interpret Op='D' as a CDC delete in the silver merge. */
    interpretDeletes: Boolean = false) {

  private val ckpt = new Checkpoint(spark, checkpointPath)

  /** The silver Avro schema, verbatim from
    * /root/reference/bronze-silver.py:231-248. */
  val silverAvro: String =
    """{
      |  "type": "record", "name": "silver_orders", "fields": [
      |    {"name": "replicadmstimestamp", "type": {"type": "long", "logicalType": "timestamp-micros"}},
      |    {"name": "invoiceid", "type": "long"},
      |    {"name": "itemid", "type": "long"},
      |    {"name": "category", "type": ["null", "string"]},
      |    {"name": "price", "type": "double"},
      |    {"name": "quantity", "type": "int"},
      |    {"name": "orderdate", "type": {"type": "int", "logicalType": "date"}},
      |    {"name": "destinationstate", "type": ["null", "string"]},
      |    {"name": "shippingtype", "type": ["null", "string"]},
      |    {"name": "referral", "type": ["null", "string"]}
      |  ]
      |}""".stripMargin

  def silverSchema: StructType = AvroSchemaConverter.toStructType(silverAvro)

  /** One incremental run; returns #silver rows after the merge
    * (-1 = no new bronze snapshot, short-circuited). */
  def run(): Long = Phase.timed("pipeline.silver") {
    val bronze = GraftTable(spark, bronzeDir)
    require(bronze.exists, s"bronze table missing: $bronzeDir")

    // latest snapshot via the history view (O1 top-1 pattern,
    // /root/reference/bronze-silver.py:133-138)
    // — the view's top-1 by (made_current_at, snapshot_id), taken over
    // the log on the driver instead of through a Spark job; the read
    // below resolves from the same listing
    val st = bronze.state()
    val latest = st.snapshots
      .maxBy(s => (s.timestampMs, s.snapshotId)).snapshotId
    val lastProcessed = ckpt.load("last_processed_snapshot")

    if (lastProcessed.contains(latest)) return -1L // nothing new

    val increment = lastProcessed match {
      case Some(s) =>
        bronze.readIncremental(st, s, latest, skipRewrites = false)
      case None => bronze.read(st) // first run = full scan (S5)
    }

    val silver = GraftTable(spark, silverDir)
    if (!silver.exists)
      silver.create(silverSchema, parts = Seq("destinationstate"))

    // Dedup by invoiceid (N4), keep latest by processed_time; merge on
    // (invoiceid, itemid); Op + lineage columns dropped by schema align.
    silver.merge(increment,
      keys = Seq("invoiceid", "itemid"),
      dedupKey = Seq("invoiceid"),
      orderCol = "processed_time",
      opCol = if (interpretDeletes) Some("Op") else None)

    ckpt.save("last_processed_snapshot", latest)
    silver.read().count()
  }
}
