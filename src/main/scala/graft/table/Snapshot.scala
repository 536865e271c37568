package graft.table

/** One committed table version — the graft analogue of an Iceberg snapshot
  * (reference relies on Iceberg's snapshot ids + `.history` metadata table,
  * /root/reference/bronze-silver.py:116-149).
  *
  * Stored as one JSON file per snapshot under `<table>/_graft/`, committed
  * by atomic rename — commit ordering and single-winner semantics come from
  * the filesystem, as in Iceberg's optimistic metadata swap. File lists are
  * relative paths so a table directory is relocatable.
  *
  * Scale design: the snapshot record itself is O(1) — the per-file payload
  * (paths, column min/max, Bloom bitsets, row counts, sequence overrides)
  * lives in a per-commit MANIFEST file ([[Manifest]]) referenced by a slim
  * [[ManifestRef]] that carries only entry counts and a partition-value
  * summary. An operation resolves the log ONCE ([[TableState]]): one
  * listing of `_graft` yields the chain, and one replay of the manifests
  * since the last base snapshot yields the live files, their entries and
  * the live tombstones. A partition-filtered read skips manifests whose
  * summary cannot match (Iceberg's manifest-list partition-summary
  * skipping). Manifests are UUID-named and never rewritten, so their
  * parses are cached by path; snapshot parses by listed path, mtime and
  * length. Every file change, from a writer's staged files to a
  * carried baseline, travels as a [[ManifestEntry]]; snapshots written
  * before manifests (inline file lists) are refused by name.
  */
/** Per-file, per-column min/max, rendered with Spark's Cast-to-string (in
  * UTC) and parsed back with the same Cast — the discipline partition-path
  * values already use. A missing bound means "no information" (readers
  * must keep the file); bounds are dropped for long strings rather than
  * truncated, because a truncated max is no longer an upper bound.
  * `bloom` is an optional base64 Bloom bitset over xxhash64 of the file's
  * values (point-lookup pruning where value ranges overlap across files —
  * the unclustered high-cardinality case min/max cannot serve). */
case class ColStat(min: Option[String], max: Option[String],
    bloom: Option[String] = None,
    nulls: Option[Long] = None)

/** A merge-on-read equality-delete file (graft's analogue of an Iceberg
  * v2 equality delete): `path` is a parquet file of key tuples under
  * `_deletes/`, and its tombstones apply to data files whose add-sequence
  * is STRICTLY BELOW `seq` — data files committed with or after the
  * delete (e.g. the same merge's own inserts) are never affected. `seq`
  * is recorded explicitly so it survives snapshot expiration (the
  * baseline re-adds the delete file with its original sequence). */
case class DeleteFile(path: String, seq: Long,
    /** on-disk size, recorded at commit — the MOR read plans its
      * broadcast-vs-shuffle anti-join from this without a getFileStatus
      * RPC per tombstone. Every writer records it; a read refuses a live
      * tombstone without it. */
    bytes: Option[Long] = None,
    /** the equality-delete key columns, recorded at commit — tombstones
      * on the SAME keys are unioned into one anti-join at read;
      * differently-keyed tombstones stay separate joins. Every equality
      * writer records it; a read refuses a live equality tombstone
      * without it (position tombstones carry none). */
    cols: Option[Seq[String]] = None,
    /** delete encoding: None/"equality" = key tuples (the merge path);
      * "position" = (file_path, pos) rows targeting exact row ordinals
      * in named data files (graft's analogue of an Iceberg v2 position
      * delete — the cheaper encoding for point deletes: the read applies
      * it file-locally instead of key-joining the whole group). */
    content: Option[String] = None) {
  def isPosition: Boolean = content.contains("position")
}

/** One data-file change recorded by a commit's manifest: `status` is
  * "add" or "remove"; stats/rows/bytes travel with "add" entries (the
  * Iceberg manifest data-file record) from the staging that wrote the
  * file to every commit that carries it; `seq` is the add-sequence
  * override a carried file keeps (expire baseline, rewrite-manifests,
  * rollback). */
case class ManifestEntry(path: String, status: String,
    stats: Option[Map[String, ColStat]] = None,
    rows: Option[Long] = None,
    seq: Option[Long] = None,
    /** on-disk size, captured at commit — planning (split sizing, COW/MOR
      * auto decision, metadata views) reads it from here instead of one
      * getFileStatus RPC per file. */
    bytes: Option[Long] = None)

/** A commit's full per-file payload, stored as its own file under
  * `_graft/` — the Iceberg manifest analogue. Parsed only when a query
  * actually needs this commit's file details. */
case class Manifest(entries: Seq[ManifestEntry])

object Manifest {
  import org.json4s._
  import org.json4s.jackson.Serialization
  private implicit val fmts: Formats = DefaultFormats
  def toJson(m: Manifest): String = Serialization.write(m)
  def fromJson(j: String): Manifest = Serialization.read[Manifest](j)
}

/** Slim pointer to a commit's [[Manifest]], embedded in the snapshot
  * record (the manifest-list entry): counts for the metadata views and a
  * partition-value summary for manifest SKIPPING — a partition-filtered
  * plan never parses a manifest whose summary proves no entry (add or
  * remove) can match. `partitionValues` is None when the summary was too
  * wide to record (the manifest must then always be read). */
case class ManifestRef(path: String, addedCount: Int, removedCount: Int,
    partitionValues: Option[Map[String, Seq[String]]] = None)

case class Snapshot(
    snapshotId: Long,
    parentId: Option[Long],
    timestampMs: Long,
    operation: String, // create | append | overwrite | merge
    schemaJson: String,
    partitionCols: Seq[String],
    /** MOR delete files added / removed by this snapshot. */
    addedDeleteFiles: Option[Seq[DeleteFile]] = None,
    removedDeleteFiles: Option[Seq[String]] = None,
    /** idempotent-writer transaction stamp (Delta's txnAppId/txnVersion
      * pattern): a writer that replays a micro-batch checks the chain for
      * its (appId, batchId) before committing — the stamp rides IN the
      * data commit, so the dedup check and the data are atomic. */
    txnAppId: Option[String] = None,
    txnBatchId: Option[Long] = None,
    /** txn stamps ABSORBED from expired snapshots (appId → max batchId):
      * the expire baseline carries them so idempotent-writer replay
      * checks survive history truncation — without this, expiring a
      * writer's last stamped commit would make its replay DOUBLE-APPLY
      * (the problem Delta solves by retaining setTransaction actions in
      * checkpoints). */
    txnStamps: Option[Map[String, Long]] = None,
    /** table properties (Iceberg table-properties analogue), set at create
      * and carried forward by every commit. Known keys:
      * `graft.bloom.columns` — comma-separated columns to collect Bloom
      * membership bitsets for on write (the one stat that needs a
      * value-level scan; everything else comes from parquet footers). */
    properties: Option[Map[String, String]] = None,
    /** base-state marker: this snapshot's manifest carries the FULL live
      * state (create, expire baseline, rewrite-manifests), so metadata
      * resolution replays the chain FROM the last base at or before the
      * read point — O(manifests since the last rewrite), not O(history).
      * The Iceberg manifest-list compaction effect. */
    base: Option[Boolean] = None,
    /** the commit's per-file payload, chunked out of this record (None
      * on file-less commits like create). */
    manifest: Option[ManifestRef] = None)

object Snapshot {
  import org.json4s._
  import org.json4s.jackson.{JsonMethods, Serialization}

  private implicit val fmts: Formats = DefaultFormats

  def toJson(s: Snapshot): String = Serialization.writePretty(s)

  /** Parse snapshot `file` of `table`. A snapshot written before
    * manifests listed its files inline (`addedFiles`/`removedFiles`);
    * read without those fields it would look file-less, so it is
    * refused by name. Manifest-era snapshots that still carry the two
    * arrays empty read normally. */
  def fromJson(j: String, table: String, file: String): Snapshot = {
    val v = JsonMethods.parse(j)
    val inline = Seq("addedFiles", "removedFiles").filter(k => v \ k match {
      case JArray(xs) => xs.nonEmpty
      case _ => false
    })
    if (inline.nonEmpty) throw new IllegalStateException(
      s"$table: snapshot $file lists its files inline " +
        s"(${inline.mkString(", ")}) — a pre-manifest snapshot, which " +
        "this version does not read")
    v.extract[Snapshot]
  }
}
