package graft.table

import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.util.{DeleteApply, Phase}

/** A versioned, partitioned Parquet table with Iceberg-like observable
  * semantics: snapshot isolation, append / overwrite / merge commits,
  * time travel, incremental append scans, and a `.history` metadata view.
  *
  * Re-expresses what the reference gets from the Iceberg runtime:
  *   - create/append/overwrite writer (/root/reference/raw-bronze.py:156-183)
  *   - declared-schema create       (/root/reference/bronze-silver.py:168-204)
  *   - history scan                 (/root/reference/bronze-silver.py:116-119)
  *   - snapshot-range incremental   (/root/reference/bronze-silver.py:146-149)
  *   - MERGE INTO upsert            (/root/reference/bronze-silver.py:249-286)
  *
  * Design: data files are plain Parquet laid out in Hive partition dirs;
  * each commit stages files to a scratch dir, moves them in, then atomically
  * publishes a [[Snapshot]] JSON. Readers resolve the live file set from the
  * snapshot chain, so uncommitted/aborted writes are invisible (snapshot
  * isolation) and concurrent commit attempts collide on the publish:
  * appends retry against the new tip, rewrites fail with a conflict
  * (Iceberg's validation semantics). All IO goes through the Hadoop
  * FileSystem API; the snapshot publish is single-winner via an atomic
  * create-exclusive primitive (POSIX link for file://, rename for HDFS
  * where rename-to-existing fails) — S3A would need a lock/catalog commit
  * service, exactly as Iceberg requires there.
  *
  * Scale notes (100 TB): reads prune partitions before listing a single data
  * file (the live-file set is filtered driver-side by partition values, like
  * Iceberg manifest pruning); merge rewrites only the partitions that can
  * contain a matched key (COW write amplification bounded by touched
  * partitions, not table size); incremental scans read exactly the files a
  * snapshot range added — no full-table diff.
  */
class GraftTable(spark: SparkSession, val location: String,
    val branchName: Option[String] = None) {

  private[graft] def sparkSession: SparkSession = spark

  private val tablePath = new Path(location)
  private val metaPath = new Path(tablePath, "_graft")
  private lazy val fs: FileSystem =
    tablePath.getFileSystem(spark.sessionState.newHadoopConf())

  // ---- metadata ----

  def exists: Boolean = fs.exists(metaPath)

  /** This instance's snapshot slot name: branch commits publish
    * `snap-NNNNNNNN-<branch>.json`, invisible to the main chain's
    * `snap-\d{8}.json` listing by construction. */
  private def snapFileName(id: Long): String = branchName match {
    case Some(b) => f"snap-$id%08d-$b.json"
    case None => f"snap-$id%08d.json"
  }

  /** One resolution of the snapshot log as of `asOf` (default: the tip):
    * ONE listing of `_graft` — a branch's two chains come from the same
    * listing — from which an operation answers every metadata question
    * ([[TableState]]). The listing is the visibility point for concurrent
    * commits, so a state is never kept past its operation. Snapshot JSON
    * parses are cached on the listed (path, mtime, length): a published
    * snapshot is immutable but for expire's baseline rewrite, which
    * changes both. */
  def state(asOf: Option[Long] = None): TableState = Phase.timed(
      "table.meta.snapshots") {
    val listed = try fs.listStatus(metaPath).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    branchName match {
      case None => new TableState(this, chainOf(listed, MainSlot), None)
      case Some(b) =>
        val marker = listed.find(_.getPath.getName == s"branch-$b.json")
        require(marker.isDefined, s"no branch '$b' on $location")
        val base = readString(marker.get.getPath).trim.toLong
        new TableState(this, chainOf(listed, MainSlot)
          .takeWhile(_.snapshotId <= base) ++ chainOf(listed, branchSlot(b)),
          Some(base))
    }
  }.at(asOf)

  private val MainSlot = "snap-\\d{8}\\.json"
  private def branchSlot(b: String): String =
    s"snap-\\d{8}-${java.util.regex.Pattern.quote(b)}\\.json"

  /** The snapshots among `listed` whose names match `slot`, ascending. */
  private def chainOf(listed: Seq[FileStatus], slot: String): Seq[Snapshot] =
    listed.filter(_.getPath.getName.matches(slot))
      .sortBy(_.getPath.getName).map { s =>
        val key = (s.getPath.toString, s.getModificationTime, s.getLen)
        Option(GraftTable.snapCache.get(key)).getOrElse(GraftTable.cache(
          GraftTable.snapCache, key, readSnapshot(s.getPath)))
      }

  private def readSnapshot(p: Path): Snapshot =
    Snapshot.fromJson(readString(p), location, p.getName)

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** All committed snapshots, ascending by id, from a fresh listing. An
    * operation that needs more than the chain (schema, live files,
    * stats, tombstones) takes ONE [[state]] and reads all of it there. */
  def snapshots: Seq[Snapshot] = state().snapshots
  def latestSnapshot: Option[Snapshot] = state().latest
  def latestSnapshotId: Option[Long] = latestSnapshot.map(_.snapshotId)

  // ---- manifests (chunked per-commit file metadata) ----

  /** A manifest is UUID-named, created exclusively and never rewritten,
    * so its parse is cached on the qualified path alone — a cached
    * manifest costs no filesystem call at all. */
  private def readManifest(rel: String): Manifest = {
    val p = fs.makeQualified(new Path(tablePath, rel))
    Option(GraftTable.manifestCache.get(p.toString)).getOrElse {
      GraftTable.manifestParses.incrementAndGet()
      GraftTable.cache(GraftTable.manifestCache, p.toString,
        Manifest.fromJson(readString(p)))
    }
  }

  /** A snapshot's per-file change set: its manifest's entries (none on
    * a file-less commit). */
  def entriesOf(s: Snapshot): Seq[ManifestEntry] =
    s.manifest.fold(Seq.empty[ManifestEntry])(ref =>
      Phase.timed("table.meta.manifest")(readManifest(ref.path).entries))

  def addedFilesOf(s: Snapshot): Seq[String] =
    entriesOf(s).filter(_.status == "add").map(_.path)
  def removedFilesOf(s: Snapshot): Seq[String] =
    entriesOf(s).filter(_.status == "remove").map(_.path)

  /** Cap on per-column distinct partition values a manifest summary
    * records; a wider manifest drops the summary and is always read. */
  private val MaxPartSummaryValues = 64

  /** Write a commit's manifest file and build its slim ref (entry counts +
    * partition-value summary for manifest skipping). The manifest is
    * content-addressed by UUID and immutable; an aborted commit leaves at
    * worst an unreferenced manifest, swept with the expired metadata. */
  private def writeManifest(entries: Seq[ManifestEntry],
      parts: Seq[String]): ManifestRef = {
    val rel = s"_graft/manifest-${UUID.randomUUID()}.json"
    val p = new Path(tablePath, rel)
    val out = fs.create(p, false)
    try out.write(Manifest.toJson(Manifest(entries)).getBytes("UTF-8"))
    finally out.close()
    val physNames = parts.map(PartitionTransforms.parse(_).physName)
    val summary: Option[Map[String, Seq[String]]] =
      if (physNames.isEmpty) None
      else {
        val maps = entries.map(e => partitionValues(e.path))
        if (maps.exists(m => !physNames.forall(m.contains))) None
        else {
          val per = physNames.map(pc =>
            pc -> maps.map(_(pc)).distinct.sorted.toSeq).toMap
          if (per.values.exists(_.size > MaxPartSummaryValues)) None
          else Some(per)
        }
      }
    ManifestRef(rel, entries.count(_.status == "add"),
      entries.count(_.status == "remove"), summary)
  }

  // ---- metadata: thin reads of one fresh state each ----

  def schema: StructType = state().schema

  /** Schema as of a snapshot id — the schema that snapshot was committed
    * under (Iceberg semantics: historical reads use historical schemas,
    * so a column added later does not appear, null-filled, in time-travel
    * or incremental results). */
  def schemaAt(asOf: Option[Long]): StructType = state(asOf).schema

  def partitionCols: Seq[String] = state().partitionCols

  /** Parsed partition spec ([[PartitionTransforms]]): identity columns
    * and/or hidden-partitioning transforms (days/bucket/truncate). */
  def partitionFields: Seq[PartitionField] = state().partitionFields

  /** Table properties (set at create, carried forward by every commit). */
  def properties: Map[String, String] = state().properties

  /** Columns declared for Bloom-bitset collection on write
    * (`graft.bloom.columns`) — the one stat needing a value-level scan. */
  private def bloomColumns(st: TableState): Set[String] =
    st.properties.get("graft.bloom.columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty)

  /** Iceberg `.history`-shaped metadata view
    * (made_current_at, snapshot_id, parent_id, is_current_ancestor). */
  def history: DataFrame = {
    import spark.implicits._
    snapshots.map(s => (new java.sql.Timestamp(s.timestampMs), s.snapshotId,
        s.parentId, true, s.operation))
      .toDF("made_current_at", "snapshot_id", "parent_id",
        "is_current_ancestor", "operation")
  }

  /** Iceberg `.snapshots`-shaped metadata view: one row per snapshot with
    * its operation and add/remove summary. Counts come from the slim
    * manifest ref — this view never parses a manifest. */
  def metaSnapshots: DataFrame = {
    import spark.implicits._
    snapshots.map(s => (s.snapshotId, s.parentId,
        new java.sql.Timestamp(s.timestampMs), s.operation,
        s.manifest.map(_.addedCount).getOrElse(0).toLong,
        s.manifest.map(_.removedCount).getOrElse(0).toLong,
        s.addedDeleteFiles.map(_.size.toLong).getOrElse(0L)))
      .toDF("snapshot_id", "parent_id", "committed_at", "operation",
        "added_files", "removed_files", "added_delete_files")
  }

  /** Iceberg `.files`-shaped metadata view over the LIVE file set:
    * partition values, size, add-sequence, and per-column bounds from the
    * snapshot log — the scan-planning facts, queryable as data. */
  def metaFiles: DataFrame = {
    import spark.implicits._
    val st = state()
    val live = st.liveFiles
    val stats = st.statsFor(live)
    val sizes = st.bytesFor(live)
    live.map { f =>
      val len = sizes.getOrElse(f,
        fs.getFileStatus(new Path(tablePath, f)).getLen)
      val cs = stats.getOrElse(f, Map.empty)
      (f, partitionValues(f), len, st.fileAddSeqs.getOrElse(f, -1L),
        cs.map { case (c, s) => (c, s.min.orNull) },
        cs.map { case (c, s) => (c, s.max.orNull) })
    }.toDF("file_path", "partition", "size_bytes", "add_sequence",
      "lower_bounds", "upper_bounds")
  }

  /** Iceberg `.delete_files`-shaped metadata view: the LIVE tombstone
    * set — path, applying sequence, encoding (equality|position),
    * equality key columns, recorded bytes. The audit an operator runs
    * before sizing a fold/compaction (morRead plan cost is a function of
    * exactly this list). */
  def metaDeletes: DataFrame = {
    import spark.implicits._
    liveDeletes().map { d =>
      (d.path, d.seq,
        if (d.isPosition) "position" else "equality",
        d.cols.getOrElse(Seq.empty), d.bytes.getOrElse(-1L))
    }.toDF("file_path", "sequence", "content", "equality_cols", "bytes")
  }

  /** Iceberg `.partitions`-shaped metadata view: per-partition file/
    * row/byte rollup over the LIVE set, straight from manifest metadata
    * (no data file is ever opened) — the small-file and skew audit an
    * operator runs before choosing compaction targets. */
  def metaPartitions: DataFrame = {
    import spark.implicits._
    val st = state()
    val live = st.liveFiles
    val rows = st.rowsFor(live)
    val sizes = st.bytesFor(live)
    live.groupBy(partitionValues)
      .map { case (kv, fs_) =>
        (kv, fs_.size.toLong,
          fs_.flatMap(rows.get).sum, fs_.flatMap(sizes.get).sum)
      }.toSeq
      .toDF("partition", "file_count", "row_count", "total_bytes")
  }

  /** Live data files (relative paths) as of `asOf` (default: latest). */
  def liveFiles(asOf: Option[Long] = None): Seq[String] =
    state(asOf).liveFiles

  /** Partition-pruned live files with manifest skipping
    * ([[TableState.liveFilesWhere]]). */
  def liveFilesWhere(keep: Map[String, Set[String]],
      asOf: Option[Long] = None): Seq[String] =
    state(asOf).liveFilesWhere(keep)

  /** Live MOR delete files (with their apply-before sequence) as of
    * `asOf`. Empty for pure-COW tables — the overwhelmingly common case,
    * so readers pay nothing unless tombstones actually exist. */
  def liveDeletes(asOf: Option[Long] = None): Seq[DeleteFile] =
    state(asOf).liveDeletes

  /** Add-sequence of every data file seen in the chain: the id of the
    * snapshot that FIRST added it (an entry's `seq` override wins — the
    * expire baseline records original sequences there). Public: the Iceberg
    * exporter emits these as the per-file data sequence numbers that
    * scope equality-delete applicability. */
  def fileAddSeqs(asOf: Option[Long]): Map[String, Long] =
    state(asOf).fileAddSeqs

  /** Row counts / on-disk sizes / column stats of `files` as of `asOf`,
    * from the manifest entries ([[TableState.statsFor]]). Missing entries
    * mean "unknown". */
  def rowsFor(files: Seq[String], asOf: Option[Long] = None)
      : Map[String, Long] = state(asOf).rowsFor(files)
  def bytesFor(files: Seq[String], asOf: Option[Long] = None)
      : Map[String, Long] = state(asOf).bytesFor(files)
  def statsFor(files: Seq[String], asOf: Option[Long] = None)
      : Map[String, Map[String, ColStat]] = state(asOf).statsFor(files)

  // ---- commit protocol ----

  /** Atomically publish `tmp` at `dest`, failing (false) if `dest`
    * already exists — delegated to the pluggable [[CommitLock]]
    * ([[LinkCommitLock]] by default: POSIX link for file://, rename for
    * HDFS; [[LockServiceCommitLock]] documents the S3A-shaped story). */
  private[table] def publishExclusive(tmp: Path, dest: Path): Boolean =
    GraftTable.commitLock.publish(fs, tmp, dest)

  /** Publish a snapshot: write JSON to a temp name, atomically link/rename
    * it into its final slot ([[publishExclusive]] — single-winner even on
    * LocalFileSystem). A publish collision means a concurrent commit won:
    *   - append commits retry against the new tip (appends commute);
    *   - non-append commits (overwrite/merge/compact/rollback) computed
    *     their added/removed lists against the old tip, which may no longer
    *     cover the winner's files — retrying would corrupt the table, so
    *     they fail with a conflict (Iceberg's validation semantics).
    * Each attempt works from ONE view of the log: the caller's own state
    * (`view`) for the first, a fresh listing for every retry. A stale
    * first view is safe: anything published after its listing holds the
    * slot this attempt publishes into, so the attempt collides and
    * retries. `schemaFor` is evaluated against the attempt's parent, so
    * a retrying append re-merges its schema against whatever the winner
    * committed instead of republishing a stale JSON. `autoFold` (MOR
    * writers) folds the live tombstones once they pass the table's
    * threshold ([[foldPast]]). */
  private[table] def commit(operation: String, added: Seq[ManifestEntry],
      removed: Seq[String], schemaFor: Option[Snapshot] => String,
      parts: Seq[String], expectedParent: Option[Long] = None,
      // MOR delete-file changes ((path, bytes) pairs); added deletes get
      // seq = the committed snapshot's id (they apply to strictly older
      // data files) and carry the commit's equality-key columns
      addDeletePaths: Seq[(String, Long)] = Seq.empty,
      addDeleteCols: Option[Seq[String]] = None,
      addDeleteContent: Option[String] = None,
      // files this commit's content REFERENCES without adding/removing
      // (position-tombstone targets): re-validated live at the tip on
      // every publish attempt — Iceberg's validateDataFilesExist. A
      // concurrent rewrite (compact/fold/COW) that retired one makes the
      // commit conflict instead of publishing tombstones that name dead
      // files (which would silently drop the deletes: positions are
      // physical facts about exact files, unlike equality keys, which
      // re-apply to rewritten files through their newer sequence).
      requireLiveFiles: Seq[String] = Seq.empty,
      removeDeletes: Seq[String] = Seq.empty,
      reAddDeletes: Seq[DeleteFile] = Seq.empty,
      txn: Option[(String, Long)] = None,
      props: Option[Map[String, String]] = None,
      base: Boolean = false,
      view: Option[TableState] = None,
      autoFold: Boolean = false): Long = {
    // the per-file payload is written ONCE as a manifest before the
    // publish loop (its content does not depend on the snapshot id);
    // retries republish only the slim snapshot record
    val entries = removed.map(f => ManifestEntry(f, "remove")) ++ added
    // (id, the view it was published over — None for a txn replay)
    @annotation.tailrec
    def attempt(n: Int, view: TableState,
        manifestRef: Option[ManifestRef]): (Long, Option[TableState]) = {
      if (n > 20) throw new IllegalStateException(
        s"commit contention on $location")
      // Idempotent-writer re-check on every attempt's view: two concurrent
      // replays of the same (appId, batchId) — the zombie-driver race this
      // Delta-style txn stamp exists to close — can both pass a one-shot
      // pre-staging check; only a check inside the publish-retry loop
      // (after the losing attempt re-lists the tip the winner published)
      // guarantees the batch commits at most once. The loser's staged
      // files are left unreferenced and swept by removeOrphanFiles, same
      // as a crashed write. The parent and the stamps come from the SAME
      // listing: a winner published after it collides on the parent+1
      // slot, and this attempt retries over a listing that sees it.
      val parent = view.latest
      if (txn.exists { case (appId, batchId) =>
          view.lastTxnBatch(appId).exists(_ >= batchId) })
        return (view.tipId.get, None)
      expectedParent.foreach { exp =>
        // NoParentSentinel asserts a PARENTLESS publish (the caller read
        // an empty chain): without it, two cold-start CAS writers both
        // passing `expectedParent = None` would skip the check entirely —
        // the publish-slot loser would retry on top of the winner and
        // the check-then-append invariant would silently break
        val ok =
          if (exp == GraftTable.NoParentSentinel) parent.isEmpty
          else parent.map(_.snapshotId).contains(exp)
        if (!ok)
          throw new java.util.ConcurrentModificationException(
            s"commit conflict on $location: expected parent " +
              s"${if (exp == GraftTable.NoParentSentinel) "<none>" else exp}, " +
              s"found ${parent.map(_.snapshotId).orNull} — recompute the " +
              s"$operation against the current snapshot and retry")
      }
      if (requireLiveFiles.nonEmpty) {
        val live = view.liveFiles.toSet
        val gone = requireLiveFiles.filterNot(live.contains)
        if (gone.nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"commit conflict on $location: $operation references " +
              s"file(s) a concurrent rewrite retired — " +
              s"${gone.take(3).mkString(", ")}; recompute against the " +
              "current snapshot and retry")
      }
      val id = parent.map(_.snapshotId + 1).getOrElse(0L)
      val addedDeletes =
        addDeletePaths.map { case (p, b) =>
          DeleteFile(p, id, Some(b), addDeleteCols,
            addDeleteContent) } ++ reAddDeletes
      val snap = Snapshot(id, parent.map(_.snapshotId),
        System.currentTimeMillis(), operation, schemaFor(parent), parts,
        addedDeleteFiles =
          if (addedDeletes.isEmpty) None else Some(addedDeletes),
        removedDeleteFiles =
          if (removeDeletes.isEmpty) None else Some(removeDeletes),
        txnAppId = txn.map(_._1), txnBatchId = txn.map(_._2),
        properties = props.orElse(parent.flatMap(_.properties)),
        base = if (base || parent.isEmpty) Some(true) else None,
        manifest = manifestRef)
      val tmp = new Path(metaPath, s".tmp-${UUID.randomUUID()}.json")
      val out = fs.create(tmp, false)
      try out.write(Snapshot.toJson(snap).getBytes("UTF-8")) finally out.close()
      if (publishExclusive(tmp, new Path(metaPath, snapFileName(id)))) {
        // the snapshot is durably published at this point — a failed CDC
        // materialization must not make the commit look failed (a retrying
        // writer would double-append); readers fall back to reconstruction
        // when the _changes file is absent
        try maybeMaterializeChanges(snap) catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"graft: CDC materialization for snapshot $id failed " +
              s"(readers will reconstruct): $e")
        }
        (id, Some(view))
      } else {
        fs.delete(tmp, false) // lost the race; retry over a fresh listing
        attempt(n + 1, state(), manifestRef)
      }
    }
    val (id, published) = Phase.timed("table.commit") {
      val manifestRef = Phase.timed("table.commit.manifest")(
        if (entries.isEmpty) None else Some(writeManifest(entries, parts)))
      attempt(1, view.getOrElse(state()), manifestRef)
    }
    published.filter(_ => autoFold)
      .fold(id)(v => foldPast(id, v, addDeletePaths.size))
  }

  /** Auto-fold after a MOR commit over `parent` that added `added`
    * tombstone files: a long-running MOR stream must not degrade until an
    * operator remembers to compact — once live tombstone files exceed the
    * threshold (`graft.merge.mor.max-delete-files`), fold them into the
    * (bounded set of) affected data files. Amortized: one partial rewrite
    * per N commits, and morRead's plan stays O(threshold). A
    * concurrent-commit conflict skips the fold — the commit itself is
    * published, and the next one past the threshold retries it. */
  private def foldPast(id: Long, parent: TableState, added: Int): Long = {
    val maxLive = parent.properties.getOrElse(
      "graft.merge.mor.max-delete-files",
      GraftTable.MorMaxLiveDeleteFiles.toString).toInt
    if (parent.liveDeletes.size + added <= maxLive) id
    else try foldDeletes()
    catch { case _: java.util.ConcurrentModificationException => id }
  }

  // ---- writers ----

  /** K2/C5: create an empty table from a declared schema (the reference's
    * Avro-schema silver create, /root/reference/bronze-silver.py:168-204). */
  def create(schema: StructType, parts: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty): GraftTable = {
    require(branchName.isEmpty, "create must run on the main table")
    require(!exists, s"table already exists: $location")
    val fields = parts.map(PartitionTransforms.parse)
    fields.foreach(f => require(schema.fieldNames.contains(f.source),
      s"partition source column ${f.source} not in schema"))
    // transform/type compatibility fails HERE, not at first pruned read
    // (hours(dateCol) would otherwise write zone-dependent dirs no read
    // can prune through)
    fields.foreach(f =>
      PartitionTransforms.validateSourceType(f, schema(f.source).dataType))
    require(fields.forall(_.isIdentity) || fields.forall(!_.isIdentity),
      "mixing identity and transform partition fields is not supported — " +
        "wrap identity columns in truncate/bucket or keep the spec uniform")
    fs.mkdirs(metaPath)
    // stable field ids from birth: writes stamp them into parquet
    // footers, reads resolve by id, RENAME becomes a metadata commit
    val withIds = FieldIds.assign(schema)
    commit("create", Seq.empty, Seq.empty, _ => withIds.json, parts,
      props = if (properties.isEmpty) None else Some(properties))
    this
  }

  /** Iceberg-style explicit schema evolution (the SQL
    * `ALTER TABLE ... ADD COLUMNS` path): append nullable columns to the
    * schema via a zero-file "evolve" commit — no data rewritten, old
    * files null-fill on read, time travel keeps the historical schema.
    * New columns MUST be nullable (existing rows cannot satisfy NOT
    * NULL). Re-adding a name that any historical schema carried is
    * refused: graft maps columns by NAME (Iceberg hides re-adds behind
    * field-ids), so old file bytes would silently resurrect under the
    * re-added column. The schema merge re-evaluates against the fresh
    * tip on every publish attempt, so evolve commutes with concurrent
    * appends. */
  def addColumns(cols: Seq[StructField]): Long = {
    require(exists, s"no such table: $location")
    require(cols.nonEmpty, "no columns to add")
    cols.foreach(c => require(c.nullable,
      s"new column ${c.name} must be nullable — existing rows null-fill"))
    val st = state()
    val historical = historicalNames(st)
    commit("evolve", Seq.empty, Seq.empty, parent => {
      val cur =
        DataType.fromJson(parent.get.schemaJson).asInstanceOf[StructType]
      cols.foreach { c =>
        require(!cur.fieldNames.exists(_.equalsIgnoreCase(c.name)),
          s"column already exists: ${c.name}")
        require(
          !historical.contains(c.name.toLowerCase(java.util.Locale.ROOT)),
          s"column ${c.name} existed in an earlier schema of $location " +
            "and was dropped; re-adding it by name would resurrect old " +
            "file data — use a new name (graft is name-mapped, not " +
            "field-id-mapped)")
      }
      extendWithIds(cur, cols).json
    }, st.partitionCols, view = Some(st))
  }

  /** Every column name any listed schema carried, lower-cased. */
  private def historicalNames(st: TableState): Set[String] =
    st.snapshots.flatMap(st.schemaOf(_).fieldNames)
      .map(_.toLowerCase(java.util.Locale.ROOT)).toSet

  /** Append `extra` to `cur` with fresh field ids above anything the
    * log EVER used — a dropped column's id is never reused (its bytes
    * live on in old files; reuse would resurrect them under the new
    * column via id-resolution). Legacy un-id'd schemas extend plain. */
  private def extendWithIds(cur: StructType,
      extra: Seq[StructField]): StructType =
    if (!FieldIds.hasIds(cur) || extra.isEmpty)
      StructType(cur.fields ++ extra)
    else {
      val used = math.max(FieldIds.maxId(Seq(cur)),
        FieldIds.maxId(snapshots.map(s =>
          DataType.fromJson(s.schemaJson).asInstanceOf[StructType])))
      StructType(cur.fields ++ FieldIds.extend(extra, used))
    }

  /** Drop columns via a zero-file "evolve" commit. Data files keep the
    * bytes; the column leaves the schema, so reads project it away and
    * time travel still sees it under its historical schema. Refused for
    * partition source columns and while merge-on-read delete files are
    * live (tombstones anti-join by their key columns — `compact()` to
    * apply them first). */
  def dropColumns(names: Seq[String], ifExists: Boolean = false): Long = {
    require(exists, s"no such table: $location")
    require(names.nonEmpty, "no columns to drop")
    val st = state()
    val sources = st.partitionFields.map(_.source.toLowerCase).toSet
    names.foreach(n => require(!sources.contains(n.toLowerCase),
      s"cannot drop partition source column $n"))
    require(st.liveDeletes.isEmpty,
      s"cannot drop columns while merge-on-read delete files are live " +
        s"on $location — compact() to apply tombstones first")
    commit("evolve", Seq.empty, Seq.empty, parent => {
      val cur =
        DataType.fromJson(parent.get.schemaJson).asInstanceOf[StructType]
      val missing = names.filterNot(n =>
        cur.fieldNames.exists(_.equalsIgnoreCase(n)))
      if (!ifExists) require(missing.isEmpty,
        s"no such column(s): ${missing.mkString(", ")}")
      val keep = cur.fields.filterNot(f =>
        names.exists(_.equalsIgnoreCase(f.name)))
      require(keep.nonEmpty, "cannot drop every column")
      StructType(keep).json
    }, st.partitionCols, view = Some(st))
  }

  /** RENAME COLUMN via a zero-file "evolve" commit — legal only on
    * tables born with field ids ([[FieldIds]]): every file's columns
    * resolve by parquet field id at read ([[readFiles]] flips
    * `spark.sql.parquet.fieldId.read.enabled` for id-carrying schemas),
    * so files written under the old name keep their column — no silent
    * null-fill, no rewrite; stats/Bloom pruning follows through the
    * id-based key remap in [[statsFor]], and time travel sees the old
    * name under historical schemas (same field id underneath). Refused
    * for legacy name-mapped tables (retrofitting ids to existing files
    * would need a rewrite to be safe), for partition source columns
    * (partition metadata keys by name), and while live MOR tombstones
    * key on the column. A bloom-columns table property naming the
    * column is remapped in the same commit. */
  def renameColumn(oldName: String, newName: String): Long = {
    require(exists, s"no such table: $location")
    val st = state()
    val cur = st.schema
    require(cur.fieldNames.exists(_.equalsIgnoreCase(oldName)),
      s"no such column: $oldName")
    require(FieldIds.hasIds(cur),
      s"RENAME COLUMN requires a table created with field ids — " +
        s"$location is name-mapped, so a rename would silently null the " +
        "column in existing files; CALL graft.retrofit_field_ids to " +
        "rewrite it with ids first (or ADD a new column and backfill)")
    require(!cur.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"column already exists: $newName")
    require(!historicalNames(st).contains(
      newName.toLowerCase(java.util.Locale.ROOT)),
      s"column $newName existed in an earlier schema of $location — " +
        "renaming onto a historical name invites ambiguity in stats and " +
        "tooling; use a fresh name")
    require(!st.partitionFields.exists(_.source.equalsIgnoreCase(oldName)),
      s"cannot rename partition source column $oldName")
    // d.cols = None (legacy tombstone, keys unknown) must also refuse
    require(!st.liveDeletes.exists(_.cols.forall(_.exists(
      _.equalsIgnoreCase(oldName)))),
      s"cannot rename $oldName while live merge-on-read tombstones may " +
        "key on it — compact() to fold them first")
    val newProps = st.properties.get("graft.bloom.columns")
      .filter(_.split(",").map(_.trim).exists(_.equalsIgnoreCase(oldName)))
      .map { v =>
        st.properties.updated("graft.bloom.columns",
          v.split(",").map(_.trim).filter(_.nonEmpty)
            .map(c => if (c.equalsIgnoreCase(oldName)) newName else c)
            .mkString(","))
      }
    commit("evolve", Seq.empty, Seq.empty, parent => {
      val p = DataType.fromJson(parent.get.schemaJson)
        .asInstanceOf[StructType]
      require(p.fieldNames.exists(_.equalsIgnoreCase(oldName)),
        s"column $oldName was dropped concurrently")
      require(!p.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"column $newName was added concurrently")
      StructType(p.fields.map(f =>
        if (f.name.equalsIgnoreCase(oldName)) f.copy(name = newName)
        else f)).json
    }, st.partitionCols, props = newProps, view = Some(st))
  }

  /** Widen a column's type in place (Iceberg type promotion) via a
    * zero-file "evolve" commit — Spark 4's parquet reader upcasts the
    * old files natively. Restricted to INTEGER widenings
    * (byte/short/int → short/int/long) and DECIMAL precision increases:
    * exactly the shapes whose recorded min/max stat strings re-parse
    * EXACTLY under the new type, so file pruning stays correct on old
    * files. float→double is refused (a float's shortest-repr stat
    * string does not round-trip through double — range pruning could
    * wrongly skip files). Refused while any live file carries a Bloom
    * bitset for the column (value hashes are type-dependent;
    * `compact()` rebuilds stats under the new type first). */
  def widenColumn(name: String, newType: DataType): Long = {
    require(exists, s"no such table: $location")
    val st = state()
    val cur = st.schema
    val field = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no such column: $name"))
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    val isFloatToDouble =
      field.dataType == FloatType && newType == DoubleType
    val ok = isFloatToDouble || ((field.dataType, newType) match {
      case (a, b) if intRank.contains(a) && intRank.contains(b) =>
        intRank(a) < intRank(b)
      case (a: DecimalType, b: DecimalType) =>
        a.scale == b.scale && a.precision < b.precision
      case _ => false
    })
    require(ok, s"cannot widen ${field.dataType.simpleString} to " +
      s"${newType.simpleString}: supported widenings are byte/short/int " +
      "to a wider integer, float to double, and decimal(p,s) to " +
      "decimal(p+,s)")
    // float partition dirs would need the same exact re-rendering in the
    // partition-path parser; partitioning on float is refused at write
    // time anyway, but guard the evolve side independently
    require(!st.partitionFields.exists(_.source.equalsIgnoreCase(name)),
      s"cannot widen partition source column $name")
    val bloomed = st.statsFor(st.liveFiles).exists(_._2.get(field.name)
      .exists(_.bloom.isDefined))
    // float→double: stats of float-era files (min/max AND blooms) are
    // handled at resolution time — statsFor re-renders the bounds through
    // the exact float→double conversion and drops the (type-dependent)
    // blooms for those files, so pruning stays sound with no rewrite.
    // Integer/decimal widenings round-trip their stat strings untouched
    // but have no sound bloom story — they still require a compact first.
    require(isFloatToDouble || !bloomed,
      s"cannot widen $name while live files carry Bloom bitsets for it " +
        "(value hashes are type-dependent) — compact() first")
    commit("evolve", Seq.empty, Seq.empty, parent => {
      val p = DataType.fromJson(parent.get.schemaJson)
        .asInstanceOf[StructType]
      StructType(p.fields.map(f =>
        if (f.name.equalsIgnoreCase(name)) f.copy(dataType = newType)
        else f)).json
    }, st.partitionCols, view = Some(st))
  }

  /** Commit updated table properties through the snapshot log (the SQL
    * `ALTER TABLE ... SET TBLPROPERTIES` path) — carried forward by
    * every later commit, same as create-time properties. */
  def setProperties(kvs: Map[String, String]): Long =
    changeProperties(_ ++ kvs)

  /** Remove table properties via a "set-properties" commit. */
  def unsetProperties(keys: Seq[String]): Long = changeProperties(_ -- keys)

  private def changeProperties(
      f: Map[String, String] => Map[String, String]): Long = {
    require(exists, s"no such table: $location")
    val st = state()
    commit("set-properties", Seq.empty, Seq.empty, parentSchema,
      st.partitionCols, props = Some(f(st.properties)), view = Some(st))
  }

  /** `schemaFor` of a commit that keeps its parent's schema. */
  private val parentSchema: Option[Snapshot] => String = _.get.schemaJson

  /** Tag a snapshot with a stable name (the Iceberg tag-ref shape).
    * Stored as a versioned table property (`graft.ref.<name>` — one
    * zero-file commit, atomic, time-travelable itself), resolved by
    * [[readTag]] and SQL `VERSION AS OF '<name>'`;
    * [[expireSnapshots]] retains every tagged snapshot. */
  def tag(name: String, snapshotId: Option[Long] = None): Long = {
    require(name.matches("[A-Za-z][A-Za-z0-9_.-]*"),
      s"invalid tag name: $name (must start with a letter)")
    val st = state()
    val id = snapshotId.orElse(st.tipId).getOrElse(
      throw new IllegalStateException(s"no such table: $location"))
    require(st.snapshots.exists(_.snapshotId == id),
      s"no snapshot $id in $location")
    setProperties(Map(s"graft.ref.$name" -> id.toString))
  }

  def dropTag(name: String): Long =
    unsetProperties(Seq(s"graft.ref.$name"))

  /** Named snapshot refs (tag → snapshot id). Non-numeric `graft.ref.*`
    * values (settable through raw SET TBLPROPERTIES) are ignored rather
    * than poisoning every tag read and expire with a parse error. */
  def refs: Map[String, Long] = state().refs

  def readTag(name: String): DataFrame =
    readAsOf(refs.getOrElse(name,
      throw new IllegalArgumentException(s"no tag '$name' on $location")))

  // ---- named branches (Iceberg branch refs: write-audit-publish) ----
  //
  // A branch is a named line of commits forked from a main snapshot:
  // commits on it publish `snap-NNNNNNNN-<branch>.json` slots (invisible
  // to main's listing), its chain replays main up to the fork point then
  // its own commits, and `fastForward` publishes the branch's commits
  // into the main slots one atomic create-exclusive at a time — possible
  // only while main's tip is still the fork point, so the publish either
  // lands the branch history verbatim or fails with a conflict. The
  // marker file (`_graft/branch-<name>.json`, create-exclusive) records
  // the fork point and makes branch creation single-winner.

  private def branchMarkerPath(name: String): Path =
    new Path(metaPath, s"branch-$name.json")

  /** Fork point recorded for branch `name` (throws if no such branch). */
  private[table] def branchBase(name: String): Long = {
    val p = branchMarkerPath(name)
    require(fs.exists(p), s"no branch '$name' on $location")
    readString(p).trim.toLong
  }

  /** Create branch `name` at `at` (default: current main tip). The
    * marker create is exclusive — two racing creates get one branch. */
  def createBranch(name: String, at: Option[Long] = None): Long = {
    require(branchName.isEmpty, "createBranch must run on the main table")
    require(name.matches("[A-Za-z][A-Za-z0-9_.-]*"),
      s"invalid branch name: $name (must start with a letter)")
    val st = state()
    require(!st.refs.contains(name),
      s"a tag named '$name' already exists on $location — branches and " +
        "tags share the VERSION AS OF namespace")
    val base = at.orElse(st.tipId).getOrElse(
      throw new IllegalStateException(s"no such table: $location"))
    require(st.snapshots.exists(_.snapshotId == base),
      s"no snapshot $base in $location")
    val p = branchMarkerPath(name)
    val out = try fs.create(p, false) catch {
      case _: java.io.IOException => throw new IllegalStateException(
        s"branch '$name' already exists on $location")
    }
    try out.write(base.toString.getBytes("UTF-8")) finally out.close()
    base
  }

  /** Live branches (name → fork-point snapshot id). */
  def branches: Map[String, Long] = {
    if (!exists) return Map.empty
    fs.listStatus(metaPath).toSeq
      .map(_.getPath.getName)
      .filter(n => n.startsWith("branch-") && n.endsWith(".json"))
      .map(n => n.stripPrefix("branch-").stripSuffix(".json"))
      .map(n => n -> branchBase(n)).toMap
  }

  /** A writer/reader view of branch `name`: same table location, but the
    * snapshot chain is main-up-to-fork + the branch's own commits, and
    * new commits publish into branch slots. The full read/write API
    * (append, merge, delete, evolve, incremental, MOR) works unchanged;
    * table-maintenance ops (expire, orphan sweep) are main-only. */
  def branch(name: String): GraftTable = {
    require(branchName.isEmpty, s"already on branch ${branchName.get}")
    branchBase(name) // existence check
    new GraftTable(spark, location, Some(name))
  }

  def readBranch(name: String): DataFrame = branch(name).read()

  /** Branch commits awaiting publish (ascending). */
  private def branchOnlySnapshots(name: String): Seq[Snapshot] =
    chainOf(fs.listStatus(metaPath).toSeq, branchSlot(name))

  /** Abandon branch `name`: delete its commits, their manifests (unless a
    * crash-interrupted fastForward already published them to main), and
    * the marker. Staged data files become unreferenced and age out via
    * [[removeOrphanFiles]] — exactly like a discarded pending write. */
  def dropBranch(name: String): Unit = {
    require(branchName.isEmpty, "dropBranch must run on the main table")
    val bs = branchOnlySnapshots(name)
    val mainManifests = snapshots.flatMap(_.manifest).map(_.path).toSet
    bs.foreach { s =>
      s.manifest.map(_.path).filterNot(mainManifests.contains)
        .foreach(m => fs.delete(new Path(tablePath, m), false))
      fs.delete(new Path(metaPath, f"snap-${s.snapshotId}%08d-$name.json"),
        false)
    }
    fs.delete(branchMarkerPath(name), false)
  }

  /** Publish branch `name`'s commits onto main — the Iceberg
    * fast-forward. Requires main's tip to still be the branch's fork
    * point (else the branch diverged: ConcurrentModificationException).
    * Each branch snapshot is published into its main slot by the same
    * create-exclusive primitive commits use, in chain order, so a racing
    * main commit loses or wins a slot atomically — never a torn chain: a
    * crash mid-publish leaves a valid main prefix of the branch, and
    * re-running fastForward resumes idempotently (a slot already holding
    * the identical snapshot is skipped). Returns the new main tip. */
  def fastForward(name: String): Long = {
    require(branchName.isEmpty, "fastForward must run on the main table")
    val bs = branchOnlySnapshots(name)
    val base = branchBase(name)
    if (bs.isEmpty) { // nothing staged: just drop the ref
      fs.delete(branchMarkerPath(name), false)
      return latestSnapshotId.getOrElse(base)
    }
    bs.foreach { s =>
      val destName = f"snap-${s.snapshotId}%08d.json"
      val dest = new Path(metaPath, destName)
      // a resumed fastForward republishing its own prefix
      def sameAlready: Boolean =
        fs.exists(dest) && readSnapshot(dest) == s
      if (!sameAlready) {
        val tmp = new Path(metaPath, s".tmp-${UUID.randomUUID()}.json")
        val out = fs.create(tmp, false)
        try out.write(Snapshot.toJson(s).getBytes("UTF-8"))
        finally out.close()
        if (!publishExclusive(tmp, dest)) {
          fs.delete(tmp, false)
          if (!sameAlready) throw new java.util.ConcurrentModificationException(
            s"fastForward conflict on $location: main advanced past " +
              s"fork point $base of branch '$name' — rebase the branch " +
              "(dropBranch + re-create from the new tip) and retry")
        }
      }
    }
    // fully absorbed: branch slots and marker go away; manifests are now
    // referenced by the main chain, so only the slot files are deleted
    bs.foreach(s => fs.delete(
      new Path(metaPath, f"snap-${s.snapshotId}%08d-$name.json"), false))
    fs.delete(branchMarkerPath(name), false)
    bs.last.snapshotId
  }

  /** Iceberg-style partition spec evolution: later writes lay out files
    * under `parts`; existing files stay in their old layout, and every
    * pruning site treats a file missing the current spec's dir
    * components conservatively (kept — pruned only by its column stats).
    * Restricted to TRANSFORM (days/months/bucket/truncate) or empty
    * specs on both sides — and across the whole snapshot chain — because
    * identity partitioning removes the source column's bytes from the
    * data files (Spark writer semantics), so identity-written files
    * cannot be read under any other spec. Re-parameterized transforms
    * are safe: the parameter is part of the dir name (`c_bucket8` vs
    * `c_bucket16`), so a new spec never misreads old dirs. */
  def updatePartitionSpec(parts: Seq[String]): Long = {
    require(exists, s"no such table: $location")
    val st = state()
    val fields = parts.map(PartitionTransforms.parse)
    fields.foreach(f => require(st.schema.fieldNames.contains(f.source),
      s"partition source column ${f.source} not in schema"))
    fields.foreach(f =>
      PartitionTransforms.validateSourceType(f, st.schema(f.source).dataType))
    require(fields.forall(!_.isIdentity),
      "partition spec evolution supports transform fields (days/months/" +
        "bucket/truncate) or an empty spec only: identity-partitioned " +
        "files do not carry the partition column's bytes, so they could " +
        "not be read under the evolved spec")
    val identityInChain = st.snapshots.exists(s =>
      s.partitionCols.exists(p => PartitionTransforms.parse(p).isIdentity))
    require(!identityInChain,
      s"cannot evolve the partition spec of $location: its history " +
        "contains identity-partitioned snapshots (those files do not " +
        "carry the partition column's bytes)")
    commit("set-spec", Seq.empty, Seq.empty, parentSchema, parts,
      view = Some(st))
  }

  /** Small batches write from ONE task (few, when medium-sized): a
    * staged write's cost is per-TASK/per-FILE machinery — parquet
    * writer open/footer/task-commit ≈ 5 ms each (measured: a 32-task
    * tiny write 0.22 s vs 0.09 s from one task, the computation itself
    * 0.07 s; `table.stage.write` with its jobs in a traced
    * `TimeQueries` run shows the same split) — and every extra
    * file additionally costs a footer-stats read + manifest entry at
    * commit and an open at every later read. The optimizer's size
    * estimate errs the safe way: joins/unions only inflate sizeInBytes,
    * so a batch is coalesced only when provably small, and big writes
    * keep their parallelism untouched. Thresholds are BYTES
    * (scale-independent). A layout the caller set explicitly
    * (`repartition`, `coalesce`, `repartitionByRange`, a rebalance hint
    * — possibly under a projection or a per-partition sort, the
    * `ZOrder.arrange` shape) is written as given. */
  private def shapeSmallWrite(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    @annotation.tailrec
    def callerLaidOut(p: LogicalPlan): Boolean = p match {
      case _: Repartition | _: RepartitionByExpression |
          _: RebalancePartitions => true
      case Project(_, child) => callerLaidOut(child)
      case s: Sort if !s.global => callerLaidOut(s.child)
      case _ => false
    }
    if (callerLaidOut(df.queryExecution.analyzed)) df
    else {
      val est = Phase.timed("table.stage.sizeEst")(
        df.queryExecution.optimizedPlan.stats.sizeInBytes)
      if (est > GraftTable.SmallWriteMaxBytes) df
      else df.coalesce(math.max(1L,
        (est.toLong + GraftTable.SmallWriteTargetBytes - 1) /
          GraftTable.SmallWriteTargetBytes).toInt)
    }
  }

  /** Stage `df` as parquet files and return each file's add entry, the
    * Iceberg manifest data-file record that every commit carrying the
    * file records: its table-relative path, its on-disk size (captured
    * during the move walk — zero extra RPCs), and its row count and
    * per-column min/max. Partition layout is produced by the standard
    * Spark writer; files are then moved (renamed, no copy) into the
    * table tree. `df` is already [[align]]ed.
    *
    * Bounds and row counts come from PARQUET FOOTERS ([[FooterStats]]) —
    * the writer already recorded them, so staging costs one footer read
    * per new file, NOT a second scan of the data it just wrote. Merge
    * and the graft data source use the bounds to skip files whose range
    * cannot match (file-level pruning below partition granularity).
    * Bloom membership bitsets are the one stat that needs a value-level
    * pass; they are collected only for columns declared in the
    * `graft.bloom.columns` table property, as one distributed aggregate
    * over only the new files.
    *
    * With table property `graft.write.distribution = hash` (Iceberg's
    * write.distribution-mode), the batch is repartitioned by the
    * partition expressions first, so each partition value is written by
    * exactly ONE task — without it, every task writes a file into every
    * partition dir it touches, and a 1000-executor append into a
    * 100-partition table bursts into up to 100k small files. Skipped
    * when the caller explicitly range-clustered the batch (`clustered`):
    * sort-on-write already pins the layout, and a hash shuffle on top
    * would destroy the disjoint value ranges it bought. */
  private[table] def stage(st: TableState, df: DataFrame,
      clustered: Boolean = false): Seq[ManifestEntry] = {
    val dir = new Path(metaPath, s"stage-${UUID.randomUUID()}")
    // hidden partitioning: derive the transform columns for the writer's
    // dir layout; the source columns stay in the data files
    val parts = st.partitionCols
    val fields = st.partitionFields
    val (toWrite, physNames) =
      if (!fields.exists(!_.isIdentity)) (df, parts)
      else (fields.filterNot(_.isIdentity).foldLeft(df)((acc, f) =>
        acc.withColumn(f.physName, PartitionTransforms.columnFor(
          f, col(f.source), df.schema(f.source).dataType))),
        fields.map(_.physName))
    // REBALANCE rather than plain repartition: same tuple→one-task
    // routing, but AQE also coalesces small outputs and SPLITS a
    // genuinely skewed partition value instead of pinning it to a
    // single writer (the same runtime shape the foreign write-back
    // path uses — IcebergWriteBack.newDataManifest)
    val useRebalance = !clustered && physNames.nonEmpty &&
      st.properties.getOrElse("graft.write.distribution", "none") == "hash"
    val distributed0 =
      if (useRebalance) toWrite.hint("rebalance", physNames.map(col): _*)
      else toWrite
    // clustered writes keep their range-sorted layout (coalesce would
    // merge sorted runs unsorted); rebalance-distributed writes are
    // already AQE-sized
    val distributed =
      if (clustered || useRebalance) distributed0
      else shapeSmallWrite(distributed0)
    // pin MICROS timestamps for the staged write: INT96 (the legacy
    // default some sessions carry) records no usable footer statistics,
    // which would silently disable timestamp stats and their pruning.
    // When the caller's session already pins MICROS (the harness mains
    // do), the frame is written as-is — no session clone, no re-analysis
    // of the staged plan. Otherwise the pin lives on a CLONED session
    // (shared context/cache, private conf) so concurrent commits in the
    // caller's session can never interleave with a set/restore of shared
    // conf.
    val bound =
      if (spark.conf.get("spark.sql.parquet.outputTimestampType", "INT96")
          == "TIMESTAMP_MICROS") distributed
      else {
        val writeSpark = Phase.timed("table.stage.cloneSession")(
          org.apache.spark.sql.graftglue.GraftSqlGlue.cloneSession(spark))
        writeSpark.conf.set("spark.sql.parquet.outputTimestampType",
          "TIMESTAMP_MICROS")
        org.apache.spark.sql.graftglue.GraftSqlGlue
          .ofRows(writeSpark, distributed.queryExecution.logical)
      }
    val writer = bound.write.mode("overwrite")
      .option("compression", "snappy")
      // the stage dir is private to this writer and the real commit is
      // the snapshot-json publish AFTER the move below, so v1's two-phase
      // job-commit (driver-side rename ladder over every task dir) buys
      // no atomicity here — v2 renames task output once at task commit.
      // _SUCCESS markers are likewise never consulted by the move walk.
      // (guide §6: per-file fixed costs dominate small commits)
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    Phase.timed("table.stage.write") {
      (if (physNames.nonEmpty) writer.partitionBy(physNames: _*) else writer)
        .parquet(dir.toString)
    }
    val moved = Phase.timed("table.stage.move")(
      Staging.moveStaged(fs, dir, tablePath)(identity))
    if (moved.isEmpty) return Seq.empty
    val relFiles = moved.map(_._1)
    // only IDENTITY partition sources leave the data files; transform
    // sources stay in them and their stats drive file pruning
    val absent = st.partitionFields.filter(_.isIdentity).map(_.source)
    // stat-typed LEAVES: top-level scalars plus struct leaves under
    // their dotted path (the parquet column-chunk name, so the footer
    // pass needs no mapping) — nested-leaf bounds prune scans and
    // export as Iceberg leaf-id stats
    val statFields = FileStats.leafStatFields(st.schema, absent.toSet)

    // footer pass: driver-side, metadata-only
    val footer: Map[String, (Map[String, ColStat], Long)] =
      Phase.timed("table.stats.footer")(relFiles.zip(FooterStats.readAll(
        spark.sessionState.newHadoopConf(),
        relFiles.map(new Path(tablePath, _)), statFields)).toMap)

    val bloomFields = statFields.filter(f => bloomColumns(st).contains(f.name))
    val blooms: Map[String, Map[String, String]] =
      if (bloomFields.isEmpty) Map.empty
      else Phase.timed("table.stats.bloom") {
        GraftTable.statsDataScans.incrementAndGet()
        // files resolved by full table-relative path ([[relOfScanPath]]):
        // a staged write is exactly where cross-partition basename
        // collisions happen (one task, several partition dirs), and a
        // misattributed Bloom bitset would let the merge point probe
        // prune a file that DOES contain a key — silent key duplication
        val relSet = relFiles.toSet
        val df = spark.read
          .schema(StructType(bloomFields.toIndexedSeq))
          .parquet(relFiles.map(f => s"$location/$f"): _*)
        val aggs = bloomFields.map(f => graft.functions.AggExpressions
          .bloom_agg(xxhash64(col(f.name))).as(s"bf_${f.name}")).toIndexedSeq
        df.groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*).collect().toSeq
          .flatMap { r =>
            val rel = relOfScanPath(r.getString(0))
            if (!relSet.contains(rel)) None
            else Some(rel -> bloomFields.flatMap { f =>
              Option(r.getAs[scala.collection.Seq[Long]](s"bf_${f.name}"))
                .map(b => f.name -> FileStats.encodeBloom(b.toArray))
            }.toMap)
          }.toMap
      }

    moved.map { case (rel, bytes) =>
      val bounds = footer.get(rel).map(_._1).getOrElse(Map.empty)
      val bf = blooms.getOrElse(rel, Map.empty)
      val merged = (bounds.keySet ++ bf.keySet).map { c =>
        val b = bounds.getOrElse(c, ColStat(None, None))
        c -> b.copy(bloom = bf.get(c))
      }.toMap
      ManifestEntry(rel, "add", stats = Option.when(merged.nonEmpty)(merged),
        rows = footer.get(rel).map(_._2), bytes = Some(bytes))
    }
  }

  private def stripPrefix(full: String, prefix: String): String = {
    val i = full.indexOf(prefix)
    full.substring(i + prefix.length).dropWhile(_ == '/')
  }

  /** Table-relative path of a scan-reported absolute path (the
    * `input_file_name()` form: a URI string, possibly percent-encoded).
    * BASENAMES ARE NOT UNIQUE across partition dirs — Spark's dynamic
    * partition writer gives one task's files in different partition dirs
    * identical `part-NNNNN-<jobUUID>` names — so anything attributing a
    * scan row to a table file must key by this full relative path. */
  private def relOfScanPath(full: String): String = {
    val decoded =
      try new java.net.URI(full).getPath
      catch { case _: java.net.URISyntaxException => full }
    val anchor = tablePath.toUri.getPath
    val i = decoded.indexOf(anchor)
    val p = if (i >= 0) decoded.substring(i + anchor.length) else decoded
    p.dropWhile(_ == '/')
  }

  /** Align df to the table schema (column order + types), as Iceberg's
    * writer does by-name resolution. Missing NULLABLE columns always
    * null-fill (Iceberg's optional-column write semantics — essential
    * once a concurrent evolve can add a column between a writer's plan
    * and its commit retry; a misnamed source column is still caught by
    * append's no-extra-columns check). Missing non-nullable columns are
    * only fillable via explicit `fillMissing`. */
  private[table] def align(df: DataFrame, schema: StructType,
      fillMissing: Boolean = false): DataFrame = {
    val hardMissing = schema.fields
      .filterNot(f => df.columns.contains(f.name)).filterNot(_.nullable)
    require(fillMissing || hardMissing.isEmpty,
      s"source is missing non-nullable columns: " +
        hardMissing.map(_.name).mkString(","))
    // .as(name, metadata): the table schema's field-id metadata rides on
    // the write frame, so the parquet writer stamps parquet.field.id
    // into every footer (spark.sql.parquet.fieldId.write.enabled, on by
    // default) — what makes RENAME a pure metadata operation later
    df.select(schema.fields.map { f =>
      if (df.columns.contains(f.name)) {
        // sameType ignores nullability: parquet hands arrays/maps back
        // with NULLABLE containers, and casting those to a declared
        // containsNull=false element type is an invalid cast — every
        // rewrite (compact/merge/delete) of such a table would fail
        // analysis. Same-type columns alias without a cast (also
        // cheaper); genuine type changes cast to the container-widened
        // target for the same reason.
        val cur = df.schema(f.name).dataType
        val same = GraftTable.widenContainers(cur) ==
          GraftTable.widenContainers(f.dataType)
        if (same) col(f.name).as(f.name, f.metadata)
        else col(f.name).cast(GraftTable.widenContainers(f.dataType))
          .as(f.name, f.metadata)
      }
      else lit(null).cast(f.dataType).as(f.name, f.metadata)
    }.toIndexedSeq: _*)
  }

  /** K1 append: add files, remove nothing. Creates the table on first write
    * (the reference's exists→append / else→create branch,
    * /root/reference/raw-bronze.py:178-183).
    *
    * @param mergeSchema Iceberg-style schema evolution: new columns in `df`
    *   are added to the table schema as nullable (older files read them as
    *   null); columns missing from `df` are null-filled. Off by default —
    *   appends then require an exact column set. */
  /** @param sortBy cluster-on-write: range-repartition + sort the batch
    *   on these columns before writing, so files carry DISJOINT value
    *   ranges. This is what makes the snapshot log's min/max stats
    *   selective — unclustered writes give every file ~the full value
    *   range and stats prune nothing; clustered writes let a point/range
    *   filter (or a merge key probe) skip all but the overlapping files.
    *   The Iceberg write.sort-order analogue. File count follows AQE's
    *   byte-size targeting unless `sortFiles` pins it. */
  def append(df: DataFrame, parts: Seq[String] = Seq.empty,
      mergeSchema: Boolean = false,
      txn: Option[(String, Long)] = None,
      sortBy: Seq[String] = Seq.empty,
      sortFiles: Option[Int] = None,
      // optimistic-concurrency guard: the append only publishes if the
      // table tip is still this snapshot (ConcurrentModificationException
      // otherwise) — for check-then-append callers (e.g. corpus dedup)
      // whose decision to append depends on the state they read
      expectedParent: Option[Long] = None): Long = Phase.timed("table.append") {
    if (!exists) {
      create(df.schema, parts)
    }
    val st0 = state()
    // idempotent writer: if this (appId, batchId) already committed, the
    // append is a replay — return the existing snapshot without staging
    txn.foreach { case (appId, batchId) =>
      if (st0.lastTxnBatch(appId).exists(_ >= batchId))
        return st0.tipId.get
    }
    val cur = st0.schema
    val st =
      if (!mergeSchema) {
        val extras = df.columns.filterNot(cur.fieldNames.contains)
        require(extras.isEmpty, // silent column drop would lose data
          s"source has columns not in the table schema: ${extras.mkString(",")}" +
            " — append with mergeSchema=true to evolve the schema")
        st0
      } else {
        val newCols = df.schema.fields
          .filterNot(f => cur.fieldNames.contains(f.name))
          .map(_.copy(nullable = true))
        if (newCols.isEmpty) st0
        else {
          // RESERVE the new columns' field ids via a metadata-only evolve
          // commit BEFORE staging any file: the single-winner snapshot
          // publish serializes allocation, so two concurrent mergeSchema
          // appends can never stage different columns under the same id
          // (ids are in the staged parquet footers — a post-hoc clash
          // would make id-resolution read the wrong bytes). schemaFor
          // re-merges against the fresh tip on every publish retry, so
          // the loser re-derives its ids above the winner's. If the data
          // write later fails, the columns stay — nullable and empty,
          // exactly as ADD COLUMNS followed by a failed append.
          commit("evolve", Seq.empty, Seq.empty, {
            case Some(p) =>
              val tip =
                DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
              val missing = newCols
                .filterNot(f => tip.fieldNames.contains(f.name))
              extendWithIds(tip, missing).json
            case None => extendWithIds(cur, newCols).json
          }, st0.partitionCols, view = Some(st0))
          state() // the tip now carries every new column with its id
        }
      }
    val targetSchema = st.schema
    val aligned0 = align(df, targetSchema, fillMissing = mergeSchema)
    val aligned =
      if (sortBy.isEmpty) aligned0
      else (sortFiles match {
        case Some(n) => aligned0.repartitionByRange(n, sortBy.map(col): _*)
        case None => aligned0.repartitionByRange(sortBy.map(col): _*)
      }).sortWithinPartitions(sortBy.map(col): _*)
    val added = stage(st, aligned, clustered = sortBy.nonEmpty)
    // schema is re-merged against the tip on every commit attempt: if a
    // concurrent append(mergeSchema=true) added a column while we staged,
    // republishing the precomputed targetSchema would silently drop it
    // from all subsequent reads even though the winner's files carry it.
    commit("append", added, Seq.empty, {
      case Some(p) =>
        val cur = DataType.fromJson(p.schemaJson).asInstanceOf[StructType]
        val extra = targetSchema.fields
          .filterNot(f => cur.fieldNames.contains(f.name))
          .map(_.copy(nullable = true))
        // the staged files already carry these field ids in their
        // footers; a concurrent evolve claiming one of them for a
        // DIFFERENT column would make id-resolution read the wrong
        // bytes — fail loud, the append can be retried cleanly
        extra.flatMap(f => FieldIds.idOf(f).map(f.name -> _)).foreach {
          case (n, id) =>
            val clash = FieldIds.byId(cur).get(id).filterNot(_ == n)
            require(clash.isEmpty, s"field id $id staged for new column " +
              s"$n was claimed concurrently by column ${clash.orNull} — " +
              "retry the append")
        }
        StructType(cur.fields ++ extra).json
      case None => targetSchema.json
    }, st.partitionCols, txn = txn, expectedParent = expectedParent,
      view = Some(st))
  }

  // ---- write-audit-publish (Iceberg's WAP pattern, branch-free) ----

  /** Stage a batch's files into the table tree WITHOUT committing:
    * invisible to every reader (no snapshot references them), swept by
    * [[removeOrphanFiles]] if abandoned past its age gate. Audit the
    * staged rows via [[readPending]], then [[publishPending]] — a
    * normal append commit, idempotent under replay — or
    * [[discardPending]]. The token is a persisted marker, so audit and
    * publish can happen from a different session (or after a driver
    * restart). Stats are collected at stage time; publish is pure
    * metadata. */
  def stagePending(df: DataFrame): String = {
    require(exists, s"no such table: $location")
    val st = state()
    val extras = df.columns.filterNot(st.schema.fieldNames.contains)
    require(extras.isEmpty,
      s"source has columns not in the table schema: ${extras.mkString(",")}")
    val ref = writeManifest(stage(st, align(df, st.schema)), st.partitionCols)
    val token = UUID.randomUUID().toString
    val p = new Path(metaPath, s"pending-$token.json")
    val out = fs.create(p, false)
    try out.write(ref.path.getBytes("UTF-8")) finally out.close()
    token
  }

  private def pendingEntries(token: String): (String, Seq[ManifestEntry]) = {
    val p = new Path(metaPath, s"pending-$token.json")
    require(fs.exists(p), s"no pending write $token on $location")
    val rel = readString(p)
    (rel, readManifest(rel).entries)
  }

  /** The staged (uncommitted) rows of a pending write — the audit
    * step. */
  def readPending(token: String): DataFrame =
    readFiles(state(), pendingEntries(token)._2.map(_.path))

  /** Commit a pending write as an append. Idempotent: the commit
    * carries a txn stamp keyed by the token, so a crash-replayed
    * publish commits at most once. */
  def publishPending(token: String): Long = {
    val (rel, entries) = pendingEntries(token)
    val id = commit("append", entries, Seq.empty, parentSchema, partitionCols,
      txn = Some((s"graft-wap-$token", 0L)))
    fs.delete(new Path(metaPath, s"pending-$token.json"), false)
    fs.delete(new Path(tablePath, rel), false) // commit wrote its own
    id
  }

  /** Drop a pending write: delete its staged files and marker. */
  def discardPending(token: String): Unit = {
    val (rel, entries) = pendingEntries(token)
    entries.foreach(e => fs.delete(new Path(tablePath, e.path), false))
    fs.delete(new Path(tablePath, rel), false)
    fs.delete(new Path(metaPath, s"pending-$token.json"), false)
  }

  /** Highest batch id committed by idempotent writer `appId` (the
    * streaming sink's replay check). */
  def lastTxnBatch(appId: String): Option[Long] =
    state().lastTxnBatch(appId)

  /** K1 overwrite: replace the full live file set (tombstones included —
    * the new state has no history for them to apply to). `txn` makes the
    * overwrite idempotent like [[append]]'s stamp (a replayed full-state
    * batch — e.g. TableFeed's rewrite recovery — commits at most once). */
  def overwrite(df: DataFrame, parts: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None): Long = {
    if (!exists) return append(df, parts, txn = txn)
    val st = state()
    txn.foreach { case (appId, batchId) =>
      if (st.lastTxnBatch(appId).exists(_ >= batchId))
        return st.tipId.get
    }
    // extras are refused like append's check: with align null-filling
    // missing nullable columns, a TYPO'D column name would otherwise
    // silently null-wipe the real column across the whole table
    val extras = df.columns.filterNot(st.schema.fieldNames.contains)
    require(extras.isEmpty,
      s"source has columns not in the table schema: ${extras.mkString(",")}")
    commit("overwrite", stage(st, align(df, st.schema)), st.liveFiles,
      parentSchema, st.partitionCols, expectedParent = st.tipId,
      removeDeletes = st.liveDeletes.map(_.path), txn = txn, view = Some(st))
  }

  // ---- readers ----

  /** A scan of `files` under `st`'s schema: the manifest-planned
    * HadoopFsRelation + [[graft.sources.GraftFileIndex]] shape the
    * format("graft") relation builds — file statuses come from the
    * manifest-recorded sizes, so building the scan touches no filesystem
    * metadata and launches no listing job. */
  private def readFiles(st: TableState,
      files: Seq[String]): DataFrame = Phase.timed("table.scan.files") {
    val sch = st.schema
    // id-based column resolution (SPARK-38094): active only when the
    // requested schema carries parquet.field.id metadata — i.e. tables
    // created with field ids — so files written under a pre-rename name
    // still resolve their columns; name-mapped legacy tables and plain
    // parquet reads in the same session are untouched (their schemas
    // carry no ids, and the conf is inert without them)
    if (FieldIds.hasIds(sch))
      spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    if (files.isEmpty) GraftTable.emptyFrame(spark, sch)
    else {
      // the final select restores the logical column order (the relation
      // exposes dataSchema ++ partitionSchema)
      org.apache.spark.sql.graftglue.GraftSqlGlue.ofRows(spark,
        org.apache.spark.sql.execution.datasources.LogicalRelation(
          graft.sources.GraftFileIndex.relation(spark, st, files), false))
        .select(sch.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** MOR-aware scan: apply live tombstones to `files` (plain scan when
    * none applies). ONE scan carries each row's scan URI, ordinal (when
    * a position tombstone applies) and add-sequence; [[DeleteApply]]
    * applies the tombstones, equality keys matching with `=` (a NULL
    * key never matches). Position tombstones only name files live at
    * their parent, so the `deleteSeq >= dataSeq` gate never meets the
    * equal case.
    *
    * `keepPos` retains the scan-position bridge columns
    * ([[GraftTable.UriCol]]/[[GraftTable.PosCol]]) in the result — the
    * changelog's position-delete pre-image needs them. */
  private[table] def morRead(st: TableState, files: Seq[String],
      keepPos: Boolean = false): DataFrame = Phase.timed("table.scan.plan") {
    import GraftTable.{UriCol, PosCol}
    val plain = readFiles(st, files)
    def withMeta(pos: Boolean): DataFrame = plain.select(col("*") +:
      col("_metadata.file_path").as(UriCol) +:
      (if (pos) Seq(col("_metadata.row_index").as(PosCol)) else Nil): _*)
    if (files.isEmpty) return plain
    val deletes = st.applicableDeletes(files)
    if (deletes.isEmpty) return if (keepPos) withMeta(pos = true) else plain
    def addSeq(f: String): Long = st.fileAddSeqs.getOrElse(f, Long.MaxValue)
    val (posDels, eqDels) = deletes.partition(_.isPosition)
    val SeqCol = "__graft_scan_seq__"
    val scanUris = files.map(f => f -> scanUriOf(f))
    val scan = DeleteApply.withFileInfo(withMeta(keepPos || posDels.nonEmpty),
      spark.createDataFrame(scanUris.map { case (f, u) => (u, addSeq(f)) })
        .toDF(UriCol, SeqCol), UriCol, SeqCol)
    def tombstones(ds: Seq[DeleteFile], cols: Seq[Column]): DataFrame =
      tombstoneScan(st, ds).select(cols :+ col(DeleteApply.SeqCol): _*)
    val equality = eqDels.groupBy(deleteColsOf).toSeq
      .sortBy(_._1.mkString(",")).map { case (cols, ds) =>
        DeleteApply.Equality(
          tombstones(ds, cols.map(c => col(c).as(s"__graft_del_$c"))),
          ds.map(deleteBytesOf).sum,
          (data, del) => cols.map(c =>
            data(c) === del(s"__graft_del_$c")).reduce(_ && _))
      }
    val positions = Option.when(posDels.nonEmpty)(
      DeleteApply.Positions(
        tombstones(posDels, Seq(col("file_path"), col("pos"))),
        posDels.map(deleteBytesOf).sum, scanUris))
    DeleteApply(scan, UriCol, PosCol, SeqCol, equality, positions)
      .select((plain.columns.toSeq ++
        (if (keepPos) Seq(UriCol, PosCol) else Nil)).map(col): _*)
  }

  /** The tombstones `ds` as parquet rows, each carrying its own file's
    * delete sequence as [[DeleteApply.SeqCol]]: planned from the log
    * ([[graft.sources.GraftFileIndex.scan]]), so a read launches no
    * schema-inference or listing job, however many sequences apply.
    * A position tombstone's rows are (`file_path`, `pos`); an equality
    * tombstone's are its recorded key columns, typed as at its commit
    * (the types its writer cast the keys to) without field ids, which
    * tombstone files never carry. Tombstones typed alike share ONE scan;
    * a key retyped between commits (int widened to long) splits them,
    * and the union widens. */
  private[graft] def tombstoneScan(st: TableState,
      ds: Seq[DeleteFile]): DataFrame = {
    val schemaAtSeq = ds.filterNot(_.isPosition).map(_.seq).distinct
      .map(seq => seq -> st.schemaIn(seq)).toMap
    def typing(d: DeleteFile): StructType =
      if (d.isPosition) DeleteApply.PositionSchema
      else StructType(deleteColsOf(d).map(c => FieldIds.stripDeep(
        schemaAtSeq(d.seq).find(_.name == c).getOrElse(
          throw new IllegalStateException(s"tombstone ${d.path} of " +
            s"$location keys on `$c`, which its commit's schema lacks")))))
    ds.groupBy(typing).toSeq.sortBy(_._2.head.path).map { case (sch, g) =>
      DeleteApply.withSeq(graft.sources.GraftFileIndex.scan(spark, fs,
        g.map(d => (new Path(tablePath, d.path), Some(deleteBytesOf(d)))), sch),
        g.map(d => scanUriOf(d.path) -> d.seq).toMap)
    }.reduce(_ unionByName _)
  }

  /** A live tombstone's recorded key columns / size: every tombstone
    * writer records both, so one lacking a field is refused (by the
    * native read, the changelog and the Iceberg export). */
  private[graft] def deleteColsOf(d: DeleteFile): Seq[String] =
    d.cols.getOrElse(unrecorded(d, "cols"))
  private[graft] def deleteBytesOf(d: DeleteFile): Long =
    d.bytes.getOrElse(unrecorded(d, "bytes"))
  private def unrecorded(d: DeleteFile, field: String): Nothing =
    throw new IllegalStateException(s"tombstone ${d.path} of $location " +
      s"records no `$field`, which the read needs")

  /** S5: full scan of the latest snapshot. */
  def read(): DataFrame = read(state())

  /** A scan of `st`'s live files, under its schema and tombstones. */
  private[graft] def read(st: TableState): DataFrame =
    morRead(st, st.liveFiles)

  /** Time travel: scan as of a snapshot id, under that snapshot's schema. */
  def readAsOf(snapshotId: Long): DataFrame =
    read(state(Some(snapshotId)))

  /** S6: incremental append scan — exactly the rows added by snapshots in
    * `(startExclusive, endInclusive]`, reading only those files. Mirrors
    * Iceberg's start/end-snapshot-id read
    * (/root/reference/bronze-silver.py:146-149) including its restriction
    * to append snapshots. */
  def readIncremental(startExclusive: Long, endInclusive: Long): DataFrame =
    readIncremental(startExclusive, endInclusive, skipRewrites = false)

  /** @param skipRewrites deliver only append/create snapshots' files and
    *   SKIP rewrites in the range instead of refusing (Iceberg's
    *   streaming skip-overwrite semantics — rows arriving via a rewrite,
    *   e.g. a merge's inserts, are not delivered). */
  def readIncremental(startExclusive: Long, endInclusive: Long,
      skipRewrites: Boolean): DataFrame =
    readIncremental(state(), startExclusive, endInclusive, skipRewrites)

  private[graft] def readIncremental(st: TableState, startExclusive: Long,
      endInclusive: Long, skipRewrites: Boolean): DataFrame =
    readFiles(st.at(Some(endInclusive)),
      incrementalFiles(st, startExclusive, endInclusive, skipRewrites))

  /** Files added by append snapshots in `(startExclusive, endInclusive]`;
    * refuses ranges crossing rewrites, as Iceberg's incremental scan does
    * (or skips them, see [[readIncremental]]). */
  def incrementalFiles(startExclusive: Long, endInclusive: Long,
      skipRewrites: Boolean = false): Seq[String] =
    incrementalFiles(state(), startExclusive, endInclusive, skipRewrites)

  private[graft] def incrementalFiles(st: TableState, startExclusive: Long,
      endInclusive: Long, skipRewrites: Boolean): Seq[String] = {
    val range = st.snapshots
      .filter(s => s.snapshotId > startExclusive && s.snapshotId <= endInclusive)
    // zero-file metadata commits (schema/property/spec changes) add and
    // remove nothing — they are safe to cross, not rewrites. A BASE
    // snapshot (expire baseline / rewritten-manifests root) is NEVER an
    // append even when its recorded operation says so: it carries the
    // absorbed history's FULL live state in its manifest, and delivering
    // that as "newly appended" would hand an incremental consumer every
    // pre-existing row — refuse (or skip, under the skip-rewrites
    // semantics) exactly as for any other rewrite-shaped commit.
    val appends = range.filter(s => !s.base.contains(true) &&
      (s.operation match {
        // prune-deletes retires inert tombstone refs, adds and removes no
        // data files — safe to cross, like the other metadata commits
        case "append" | "create" | "evolve" | "set-properties" |
             "set-spec" | "prune-deletes" => true
        case _ => false
      }))
    if (!skipRewrites) {
      val bad = range.diff(appends)
      require(bad.isEmpty,
        s"incremental read over non-append snapshots: ${bad.map(_.snapshotId).mkString(",")}")
    }
    appends.flatMap(addedFilesOf)
  }

  /** CDC changelog read (the Delta change-data-feed / Iceberg
    * changelog-view shape): the net row-level changes committed by each
    * snapshot in `(startExclusive, endInclusive]`, as the end snapshot's
    * data columns plus `_change_type` ('insert' | 'delete') and
    * `_commit_snapshot_id`. An update surfaces as delete + insert in the
    * same commit.
    *
    * Per snapshot:
    *   - pure appends: added files are inserts (no diff read);
    *   - COW rewrites (merge/overwrite/rollback/row-level SQL): inserts =
    *     added-file rows EXCEPT ALL removed-file rows, deletes = the
    *     reverse — rows a rewrite copied untouched cancel out, so only
    *     genuine changes surface;
    *   - MOR merges: added data files are inserts; each tombstone's
    *     deletes are the PARENT state's rows semi-joined on its keys
    *     (tombstones only cover files added before them, which is exactly
    *     the parent-visible state);
    *   - compact / rewrite-manifests / fold are data-equivalent by
    *     construction and skipped without reads (their diff is provably
    *     empty); zero-file metadata commits contribute nothing.
    *
    * Scale shape: only the files a snapshot TOUCHED are read (the
    * MOR-tombstone pre-image reads only the parent files whose min/max +
    * Bloom stats may contain a tombstone key — [[morPreImageFiles]] —
    * once per distinct key set, filtered by a semi-join); the COW diff is
    * a hash EXCEPT ALL over the touched files only — never a
    * table-history product. Rollback commits alone pay an exact two-state
    * diff (see [[changesOf]]). Results under evolved schemas conform to the end schema
    * (missing columns null-fill, dropped columns vanish) so one changelog
    * frame spans evolve commits. */
  def changes(startExclusive: Long, endInclusive: Long): DataFrame =
    changes(state(), startExclusive, endInclusive)

  private[graft] def changes(st: TableState, startExclusive: Long,
      endInclusive: Long): DataFrame = Phase.timed("table.changes") {
    val endSch = st.schemaIn(endInclusive)
    val conform = conformTo(endSch) _
    def tag(df: DataFrame, kind: String, sid: Long): DataFrame =
      df.withColumn("_change_type", lit(kind))
        .withColumn("_commit_snapshot_id", lit(sid))
    val dataEquivalent =
      Set("compact", "rewrite-manifests", "fold", "retrofit",
        "prune-deletes")
    val range = st.snapshots
      .filter(s => s.snapshotId > startExclusive && s.snapshotId <= endInclusive)
      .filterNot(s => dataEquivalent(s.operation))
    val parts = range.flatMap { s =>
      // base snapshots carry FULL state, not a change set: a create/CTAS
      // root, or an expire baseline absorbing expired history (whose
      // carried tombstones were applied long ago and whose parent is
      // gone). Emit the NET state as inserts — Delta CDF's
      // initial-snapshot semantics — and nothing else.
      if (s.base.contains(true)) {
        if (addedFilesOf(s).isEmpty) None
        else Some(tag(conform(read(st.at(Some(s.snapshotId)))), "insert",
          s.snapshotId))
      } else materializedChanges(st, s, endSch)
        .map(Seq(_)).getOrElse(changesOf(st, s, conform, tag,
          (df, sid) => df.withColumn("_commit_snapshot_id", lit(sid))))
    }
    parts.reduceOption(_ unionByName _).getOrElse {
      tag(conform(GraftTable.emptyFrame(spark, endSch)), "", 0L).limit(0)
    }
  }

  /** Per-snapshot change branches for [[changes]] (non-base commits).
    * `tag` attaches `_change_type` + any caller metadata to a
    * single-kind branch; `attach` attaches ONLY the caller metadata to
    * a branch that already carries a computed `_change_type` (the
    * net-diff branches, which produce inserts and deletes from one
    * shuffle — see [[graft.util.NetDiff]]). */
  private def changesOf(st: TableState, s: Snapshot,
      conform: DataFrame => DataFrame,
      tag: (DataFrame, String, Long) => DataFrame,
      attach: (DataFrame, Long) => DataFrame): Seq[DataFrame] = {
      // Rollback is the one commit whose net change the per-branch
      // decomposition below cannot express: it may REMOVE tombstones
      // (rows resurrect inside files live in BOTH states — neither an
      // added- nor a removed-file branch sees them) and RE-ADD tombstones
      // whose deletes were already emitted by their original commits.
      // Rollbacks are rare administrative commits, so pay the exact
      // two-state MOR-aware diff once rather than corrupt the stream.
      if (s.operation == "rollback") {
        val parent = s.parentId.getOrElse(
          throw new IllegalStateException("rollback as root snapshot"))
        val now = conform(read(st.at(Some(s.snapshotId))))
        val before = conform(read(st.at(Some(parent))))
        return Seq(attach(graft.util.NetDiff.netDiff(now, before),
          s.snapshotId))
      }
      val added = addedFilesOf(s)
      val removed = removedFilesOf(s)
      val tombs = s.addedDeleteFiles.getOrElse(Seq.empty)
      // both sides of the COW diff are read MOR-AWARE at their snapshot:
      // the pre-image (removed files AT THE PARENT) must exclude rows an
      // earlier MOR merge already tombstoned, or a later COW rewrite of
      // the same file re-emits those rows as spurious second deletes
      // (the added side is read at this snapshot for symmetry — fresh
      // files carry the commit's own sequence, so no older tombstone can
      // apply and the plan degenerates to the plain scan).
      val addedDf =
        if (added.isEmpty) None
        else Some(conform(morRead(st.at(Some(s.snapshotId)), added)))
      val removedDf =
        if (removed.isEmpty) None
        else Some(conform(morRead(st.at(s.parentId), removed)))
      // both sides present (a COW rewrite): ONE net-count shuffle yields
      // inserts AND deletes — the two-exceptAll form scanned each side
      // twice through two full-row shuffles for the identical bag result
      val cowBoth = (addedDf, removedDf) match {
        case (Some(a), Some(r)) =>
          Some(attach(graft.util.NetDiff.netDiff(a, r), s.snapshotId))
        case _ => None
      }
      val inserts =
        if (cowBoth.isDefined) None
        else addedDf.map(a => tag(a, "insert", s.snapshotId))
      val cowDeletes =
        if (cowBoth.isDefined) None
        else removedDf.map(r => tag(r, "delete", s.snapshotId))
      val (posTombs, keyTombs) = tombs.partition(_.isPosition)
      // same-key tombstones of one commit share one pre-image semi-join;
      // the pre-image scan is PRUNED by the parent files' min/max + Bloom
      // stats against the tombstone keys — a changelog range spanning many
      // MOR commits on a clustered table reads O(files containing the
      // keys) per commit, not O(table state) per commit
      val morDeletes = keyTombs.groupBy(deleteColsOf).map { case (cols, dels) =>
          val keys = tombstoneScan(st, dels).select(cols.map(col): _*)
          val parent = st.at(Some(s.parentId.getOrElse(
            throw new IllegalStateException("tombstones on a root snapshot"))))
          tag(conform(morRead(parent, morPreImageFiles(parent, cols, keys)))
            .join(DeleteApply.gated(keys,
              dels.map(deleteBytesOf).sum), cols, "left_semi"),
            "delete", s.snapshotId)
        }
      // position tombstones name their target files outright — the
      // pre-image is exactly those files (no stats probe needed): rows
      // visible at the parent whose (file, pos) the tombstone lists
      val posDeletes =
        if (posTombs.isEmpty) Seq.empty
        else {
          val parent = s.parentId.getOrElse(
            throw new IllegalStateException("tombstones on a root snapshot"))
          val keys = tombstoneScan(st, posTombs)
            .select(col("file_path"), col("pos"))
          val parentLive = st.at(Some(parent)).liveFiles.toSet
          val files = keys.select("file_path").distinct().collect()
            .map(_.getString(0)).toSeq.filter(parentLive.contains)
          if (files.isEmpty) Seq.empty
          else {
            val lookup = spark.createDataFrame(
              files.map(f => (f, scanUriOf(f))))
              .toDF("file_path", GraftTable.UriCol)
            val posKeys = keys.join(broadcast(lookup), Seq("file_path"))
              .select(col(GraftTable.UriCol), col("pos").as(GraftTable.PosCol))
            val pre = morRead(st.at(Some(parent)), files, keepPos = true)
            Seq(tag(conform(pre
              .join(DeleteApply.gated(posKeys,
                posTombs.map(deleteBytesOf).sum),
                Seq(GraftTable.UriCol, GraftTable.PosCol), "left_semi")
              .drop(GraftTable.UriCol, GraftTable.PosCol)),
              "delete", s.snapshotId))
          }
        }
      (cowBoth ++ inserts ++ cowDeletes ++ morDeletes ++ posDeletes).toSeq
  }

  /** Conform `df` to a changelog end-schema: end-schema columns only, in
    * order, null-filling columns the frame predates and casting evolved
    * types — so one changelog frame spans evolve commits. Columns are
    * matched by FIELD ID first (a renamed column is the same column
    * under an older name — name matching would null it), by name for
    * legacy un-id'd schemas. */
  private def conformTo(endSch: StructType)(df: DataFrame): DataFrame = {
    val srcById = df.schema.fields.flatMap(f =>
      FieldIds.idOf(f).map(_ -> f.name)).toMap
    df.select(endSch.fields.map { f =>
      val src = FieldIds.idOf(f).flatMap(srcById.get)
        .orElse(Some(f.name).filter(df.columns.contains))
      (src match {
        case Some(c) =>
          // same nullability discipline as [[align]]: parquet returns
          // arrays/maps with NULLABLE containers, and casting those to a
          // declared containsNull=false element type is an INVALID cast —
          // a changelog read over any array-columned table would fail
          // analysis. Same-type (modulo container nullability) aliases
          // without a cast; genuine evolution casts container-widened.
          val cur = df.schema(c).dataType
          if (GraftTable.widenContainers(cur) ==
              GraftTable.widenContainers(f.dataType)) df(c)
          else df(c).cast(GraftTable.widenContainers(f.dataType))
        case None => lit(null).cast(f.dataType)
      }).as(f.name)
    }.toIndexedSeq: _*)
  }

  /** Write-time CDC materialization (the Delta change-data-feed shape),
    * opt-in via table property `graft.cdc.materialize=true`: after a
    * data-changing commit publishes, its net row changes are computed once
    * (the same [[changesOf]] branches the read path uses — bit-for-bit the
    * reconstruction result) and staged as parquet under `_changes/<id>`,
    * published by atomic rename. Repeated changelog consumers then read
    * O(changed bytes) per commit instead of re-paying the diff; commits
    * without a materialized file (crash between publish and materialize,
    * pre-property history) transparently fall back to reconstruction.
    * The file stores the commit's schema columns + `_change_type`;
    * `_commit_snapshot_id` is re-attached at read (constant per file). */
  private def maybeMaterializeChanges(snap: Snapshot): Unit = {
    // `_changes/<id>` is keyed by MAIN-chain ids: a branch commit's id
    // will collide with a main commit's after unrelated main activity, so
    // branch commits never materialize — branch changelog reads (and main
    // reads after a fastForward) reconstruct, the standard fallback
    if (branchName.isDefined) return
    if (!snap.properties.exists(
      _.get("graft.cdc.materialize").contains("true"))) return
    if (snap.base.contains(true)) return
    val noChange = Set("create", "evolve", "set-properties", "set-spec",
      "compact", "rewrite-manifests", "fold", "retrofit",
      "prune-deletes")
    if (noChange(snap.operation)) return
    val st = state()
    val sch = st.schemaIn(snap.snapshotId)
    def tag(df: DataFrame, kind: String, sid: Long): DataFrame =
      df.withColumn("_change_type", lit(kind))
    val parts = changesOf(st, snap, conformTo(sch),
      (df, k, _) => tag(df, k, 0L),
      (df, _) => df)
    if (parts.isEmpty) return
    // a commit's change set is usually batch-sized, and per-file
    // machinery dominates tiny writes
    val out = shapeSmallWrite(parts.reduce(_ unionByName _))
    val tmp = new Path(tablePath, s"_changes/.tmp-${UUID.randomUUID()}")
    out.write.mode("overwrite")
      // committer v2 as in stage (private tmp dir published by
      // the rename below) — but _SUCCESS stays: the materialized-read
      // path DISTRUSTS a dir without it (ChangelogSpec pins that a
      // truncated/foreign dir falls back to reconstruction)
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .parquet(tmp.toString)
    val dst = changesPath(snap.snapshotId)
    fs.mkdirs(dst.getParent)
    // a concurrent materializer of the same commit produced identical
    // content — losing the rename race just discards the duplicate
    if (!fs.rename(tmp, dst)) fs.delete(tmp, true)
  }

  private def changesPath(snapshotId: Long): Path =
    new Path(tablePath, s"_changes/$snapshotId")

  /** Read a commit's materialized change file, when present. */
  private def materializedChanges(st: TableState, s: Snapshot,
      endSch: StructType): Option[DataFrame] = {
    // on a branch, a main commit's materialized file can share this
    // snapshot id — but only for ids PAST the fork point (the shared
    // prefix below it is the same commit on both chains, so its
    // materialization is equally valid here)
    if (st.branchBase.exists(s.snapshotId > _)) return None
    val dir = changesPath(s.snapshotId)
    // trust the dir only once its _SUCCESS marker is visible: rename is
    // copy+delete on object stores, so existence alone can expose a
    // partially-copied directory (silently truncated change set); the
    // marker is written inside the staged dir and arrives with the data
    if (!fs.exists(new Path(dir, "_SUCCESS"))) return None
    val raw = spark.read.parquet(dir.toString)
    // ONE scan: conform the data columns with `_change_type` carried
    // through as an extra end-schema field (name-matched — it has no
    // field id), instead of the old two filtered scans (one per kind)
    // unioned back together
    val endPlus = StructType(
      endSch.fields :+ StructField("_change_type",
        org.apache.spark.sql.types.StringType))
    Some(conformTo(endPlus)(raw)
      .withColumn("_commit_snapshot_id", lit(s.snapshotId)))
  }

  /** The parent-state files a tombstone's key set may touch: live files
    * at `parent` whose recorded min/max ranges overlap the keys' range,
    * point-probed per key (min/max gaps + Bloom bitsets) when the key set
    * is small — the same manifest pruning the COW merge planner uses
    * ([[MergeInto.mayContainKeys]]). Files without recorded stats are
    * always kept (pruning must never drop a file it cannot clear). Costs
    * one tiny driver job over the tombstone key files — O(batch), repaid
    * by not scanning the full parent state per changelog commit. */
  private[table] def morPreImageFiles(st: TableState, cols: Seq[String],
      keys: DataFrame): Seq[String] = {
    val live = st.liveFiles
    // a key column evolved away since the tombstone committed → nothing
    // to compare stats against; keep every file (correct, just unpruned).
    // Keys, stats and their types all come from `st`'s schema, so a key
    // widened since `st` (int → long) compares as it was recorded.
    if (cols.exists(c => !st.schema.fieldNames.contains(c))) return live
    val stats = st.statsFor(live)
    val (keyRange, keyValues, _) = MergeInto.keyProbe(keys, cols, st.schema)
    live.filter(f =>
      MergeInto.mayContainKeys(st.schema, f, stats, cols, keyRange, keyValues))
  }

  /** Partition-pruned scan: resolves the file list driver-side with
    * manifest skipping ([[liveFilesWhere]]), so only matching partitions
    * are ever listed/read AND only matching manifests are ever parsed
    * (`keep` maps partition column -> kept values). */
  def readPruned(keep: Map[String, Set[String]]): DataFrame = {
    val st = state()
    morRead(st, st.liveFilesWhere(keep))
  }

  /** Stats-pruned scan for a keyed probe: read only the live files whose
    * recorded column stats (min/max ranges, point-probed per key value +
    * Bloom bitsets when the probe's distinct key set is small) may
    * contain rows matching `probe`'s key tuples — the same manifest
    * pruning the COW merge planner uses ([[MergeInto.mayContainKeys]]).
    * This is FILE-level skipping resolved driver-side; the caller still
    * applies the exact row filter (e.g. a semi-join on `probe`), which
    * now scans O(matching files), not the whole table. Costs one tiny
    * driver job over `probe` (key rows under cap; range + distinct values
    * both derive from it) —
    * checkpoint `probe` first if it is derived from an expensive frame.
    * Files without recorded stats are always kept (never mis-prunes). */
  def readForKeys(probe: DataFrame, cols: Seq[String],
      asOf: Option[Long] = None): DataFrame =
    readForKeys(state(asOf), probe, cols)

  private[graft] def readForKeys(st: TableState, probe: DataFrame,
      cols: Seq[String]): DataFrame =
    if (st.tip.isEmpty) read(st)
    else morRead(st, morPreImageFiles(st, cols, probe))

  /** [[GraftTable.partitionValues]] */
  def partitionValues(relPath: String): Map[String, String] =
    GraftTable.partitionValues(relPath)

  // ---- maintenance (Iceberg-style table operations) ----

  /** Byte-targeted compaction: pick the output file count from the LIVE
    * set's manifest-recorded total size (Iceberg's
    * target-file-size-bytes), then [[compact]]. No filesystem metadata
    * RPCs — the sizes ride in the manifests. */
  def compactToSize(targetFileBytes: Long = 128L * 1024 * 1024,
      sortBy: Seq[String] = Seq.empty,
      where: Option[Column] = None): Long = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val st = state()
    val scoped = where match {
      case Some(c) => filesMatching(st, st.liveFiles, c)
      case None => st.liveFiles
    }
    val n = math.max(1L, (bytesOf(st, scoped) + targetFileBytes - 1)
      / targetFileBytes).toInt
    compact(filesPerPartition = n, sortBy = sortBy, where = where)
  }

  /** Iceberg binpack-style SMALL-FILE compaction: rewrite ONLY live
    * data files smaller than `smallFileBytes` (default ¾ of the
    * target), binpacked toward `targetFileBytes` outputs; right-sized
    * files are never touched and a partition with fewer than
    * `minInputFiles` small files is skipped (rewriting one file buys
    * nothing). This is the steady-state maintenance shape for a 100 TB
    * table fed by streaming micro-batches: each trigger lands small
    * files, and the nightly binpack's WRITE AMPLIFICATION is bounded by
    * the small-file bytes — never the table size, which `compact()`
    * (full rewrite) or `compactToSize` (scoped by rows, not file size)
    * cannot promise. MOR tombstones fold into the rewritten subset
    * exactly as in partial `compact` (live delete files are kept — they
    * may still apply to untouched files). Returns the commit's snapshot
    * id, or None when no partition met the trigger (no commit). */
  def compactSmallFiles(targetFileBytes: Long = 128L * 1024 * 1024,
      smallFileBytes: Long = 0L, minInputFiles: Int = 2): Option[Long] = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    require(minInputFiles >= 2,
      "minInputFiles must be >= 2 — rewriting a single file buys nothing")
    val thr =
      if (smallFileBytes > 0) smallFileBytes else targetFileBytes * 3 / 4
    val st = state()
    val live = st.liveFiles
    val known = st.bytesFor(live)
    // files without a recorded size are SKIPPED rather than stat'd — a
    // driver-side getFileStatus per unknown file is an RPC storm at real
    // file counts; an unknown-size file picks up a recorded size at its
    // next rewrite and becomes compactable then
    val groups: Map[Map[String, String], Seq[(String, Long)]] = live
      .flatMap(f => known.get(f).map(f -> _))
      .filter(_._2 < thr)
      .groupBy(fb => partitionValues(fb._1))
      .filter(_._2.size >= minInputFiles)
    if (groups.isEmpty) return None
    val removed = groups.values.flatten.map(_._1).toSeq
    // output-file count PER PARTITION GROUP: a global ceil(total/target)
    // would let small files spanning many partitions land each dir far
    // under targetFileBytes (one global task count spread across dirs)
    val nByGroup: Map[Map[String, String], Int] = groups.map {
      case (k, fls) => k -> math.max(1L,
        (fls.map(_._2).sum + targetFileBytes - 1) / targetFileBytes).toInt
    }
    // MOR-aware scoped read: tombstoned rows of the rewritten files do
    // not resurrect; new files' sequence exceeds every live delete's
    val scoped = morRead(st, removed)
    val fields = st.partitionFields
    val schema = st.schema
    val df =
      if (fields.isEmpty) scoped.coalesce(nByGroup.values.head)
      else {
        // route each row to one of its GROUP's nGroup output slots: the
        // clustered write then produces ~ceil(groupBytes/target) files
        // per dir. Group lookup is a broadcast join on the partition
        // tuple (rendered with the same Cast-to-string discipline the
        // partition-path writer uses); the salt hashes the row within
        // its group.
        val Sentinel = "__HIVE_DEFAULT_PARTITION__"
        val physCols = fields.map(f => coalesce(PartitionTransforms
          .columnFor(f, col(f.source).cast(schema(f.source).dataType),
            schema(f.source).dataType).cast("string"), lit(Sentinel))
          .as(s"__cmp_${f.physName}"))
        val nRows = nByGroup.toSeq.map { case (kv, ng) =>
          Row.fromSeq(fields.map(f =>
            kv.getOrElse(f.physName, Sentinel)) :+ ng)
        }
        val nSchema = org.apache.spark.sql.types.StructType(
          fields.map(f => org.apache.spark.sql.types.StructField(
            s"__cmp_${f.physName}",
            org.apache.spark.sql.types.StringType)) :+
            org.apache.spark.sql.types.StructField("__cmp_n",
              org.apache.spark.sql.types.IntegerType))
        val nDf = spark.createDataFrame(
          spark.sparkContext.parallelize(nRows, 1), nSchema)
        val keyed = scoped.select(col("*") +: physCols: _*)
          .join(broadcast(nDf), fields.map(f => s"__cmp_${f.physName}"))
        val salt = pmod(xxhash64(schema.fieldNames.map(col)
          .toIndexedSeq: _*), col("__cmp_n")).as("__cmp_salt")
        val totalFiles = math.max(1, nByGroup.values.sum)
        keyed.select(col("*"), salt)
          .repartition(totalFiles,
            fields.map(f => col(s"__cmp_${f.physName}")) :+
              col("__cmp_salt"): _*)
          .drop((fields.map(f => s"__cmp_${f.physName}") ++
            Seq("__cmp_n", "__cmp_salt")).toIndexedSeq: _*)
      }
    Some(commit("compact", stage(st, align(df, schema), clustered = true),
      removed, parentSchema, st.partitionCols, expectedParent = st.tipId,
      view = Some(st)))
  }

  /** Z-ORDER compaction: rewrite the (scoped) live set clustered by the
    * interleaved z-value of `cols`, so multi-dimensional range predicates
    * prune files on EVERY listed column — `compact(sortBy)` clusters one
    * sort prefix; this is the `OPTIMIZE ... ZORDER BY` maintenance shape.
    * Same commit semantics as [[compact]] (tombstones folded, incremental
    * reads blocked across it, history time-travelable). */
  def compactZOrder(cols: Seq[String], bits: Int = 12,
      filesPerPartition: Int = 1, where: Option[Column] = None): Long = {
    require(cols.nonEmpty, "zorder needs at least one column")
    rewrite(where)(graft.operators.ZOrder.arrange(_, cols, bits,
      Some(math.max(filesPerPartition, 1))))
  }

  /** TRUNCATE: one commit removing every live data file (and retiring
    * live tombstones — nothing left for them to apply to). History stays
    * time-travelable; expire reclaims the bytes later. This is the ONLY
    * correct truncate for a snapshot-log table — Spark's v1
    * TruncateTableCommand would rm the table directory, snapshot log
    * included (the SQL rule intercepts it into this). */
  def truncate(): Long = {
    require(exists, s"no such table: $location")
    val st = state()
    commit("overwrite", Seq.empty, st.liveFiles, parentSchema,
      st.partitionCols, expectedParent = st.tipId,
      removeDeletes = st.liveDeletes.map(_.path), view = Some(st))
  }

  /** Compaction: rewrite the live file set into at most
    * `filesPerPartition` files per partition (small-file compaction — the
    * Iceberg rewrite_data_files action). Data is unchanged; snapshot op is
    * "compact" so incremental readers refuse to cross it, as Iceberg's
    * incremental scan does for rewrites.
    *
    * @param sortBy optional RE-CLUSTERING during the rewrite (the
    *   OPTIMIZE ... ZORDER/sort shape): accumulated unclustered appends
    *   are range-partitioned + sorted so the rewritten files get tight,
    *   disjoint stat bounds again. Pass a single z-value via
    *   [[graft.operators.ZOrder]] column names for multi-dimension.
    * @param where optional SCOPE predicate (the Iceberg
    *   rewrite_data_files `where` filter): only live files actually
    *   containing matching rows (a stats-pruned scan verifies — see
    *   [[filesMatching]]) are rewritten; the rest of the table is
    *   untouched.
    *   At scale this is the only usable shape — a 100 TB table compacts
    *   one partition's small-file debt without rewriting 100 TB.
    *   Tombstones applicable to in-scope files fold into the rewrite
    *   (rewritten files' NEW add-sequence is above every live tombstone,
    *   so nothing re-applies or double-deletes); tombstone FILES are
    *   retired only on a full compact, since out-of-scope data may
    *   still need them. */
  def compact(filesPerPartition: Int = 1,
      sortBy: Seq[String] = Seq.empty,
      where: Option[Column] = None): Long =
    rewrite(where)(df0 =>
      if (sortBy.nonEmpty)
        df0.repartitionByRange(math.max(filesPerPartition, 1),
          sortBy.map(col): _*).sortWithinPartitions(sortBy.map(col): _*)
      else df0.coalesce(math.max(filesPerPartition, 1)))

  /** The compaction commit [[compact]] and [[compactZOrder]] share:
    * rewrite the live files `where` scopes (all of them without it)
    * through `layout`. The scoped read is MOR-aware, so compaction FOLDS
    * tombstones into the rewritten data — the Iceberg rewrite_data_files
    * + rewrite_position_delete_files pair in one; a full rewrite also
    * retires the tombstone files (they stay on disk for time travel;
    * expire removes them). */
  private def rewrite(where: Option[Column])(
      layout: DataFrame => DataFrame): Long = {
    val st = state()
    val all = st.liveFiles
    val removed = where match {
      case Some(c) => filesMatching(st, all, c)
      case None => all
    }
    if (removed.isEmpty) return st.tipId.getOrElse(
      throw new IllegalStateException(s"no such table: $location"))
    val full = removed.size == all.size
    // compaction pins its own layout (coalesce / range-cluster) — hash
    // write distribution must not reshuffle it
    val added = stage(st,
      align(layout(morRead(st, removed)), st.schema), clustered = true)
    commit("compact", added, removed, parentSchema, st.partitionCols,
      expectedParent = st.tipId,
      removeDeletes = if (full) st.liveDeletes.map(_.path) else Seq.empty,
      view = Some(st))
  }

  /** Retire tombstone FILES that no longer apply to ANY live data file —
    * dangling deletes, the cleanup half of Iceberg's
    * rewrite_position_delete_files. Scoped compacts strand tombstones by
    * design (rewritten files' new add-sequence is above every tombstone,
    * but out-of-scope files may still need them); once the last
    * applicable file is rewritten the tombstone is inert, yet still
    * counts against the auto-fold threshold and is still read by every
    * MOR scan's delete side.
    * This is a ZERO-FILE metadata commit: a tombstone is dangling when
    * no live file is strictly older than its sequence (equality), or —
    * for position tombstones — none of its NAMED files is both live and
    * older. Tombstone parquet stays on disk for time travel; expire
    * collects it. */
  def pruneDanglingDeletes(): Long = {
    val st = state()
    val deletes = st.liveDeletes
    if (deletes.isEmpty) return st.tipId.getOrElse(
      throw new IllegalStateException(s"no such table: $location"))
    val addSeq = st.fileAddSeqs
    val live = st.liveFiles
    def applies(d: DeleteFile): Boolean = {
      val candidates = live.filter(f =>
        d.seq > addSeq.getOrElse(f, Long.MaxValue))
      if (candidates.isEmpty) false
      else if (!d.isPosition) true // keys may hit any older file
      else {
        val named = tombstoneScan(st, Seq(d))
          .select("file_path").distinct().collect()
          .map(_.getString(0)).toSet
        candidates.exists(named.contains)
      }
    }
    val dangling = deletes.filterNot(applies)
    if (dangling.isEmpty) return st.tipId.get
    commit("prune-deletes", Seq.empty, Seq.empty, parentSchema,
      st.partitionCols, expectedParent = st.tipId,
      removeDeletes = dangling.map(_.path), view = Some(st))
  }

  /** Retrofit stable field ids onto a LEGACY name-mapped table (one whose
    * create predates [[FieldIds]]), unlocking RENAME COLUMN. Safe only as
    * a rewrite: existing footers carry no parquet field ids, and Spark's
    * id-based resolution (SPARK-38094) does not fall back to names — an
    * id-carrying schema over id-less files would null or refuse, so the
    * schema may flip to ids ONLY in the same commit that replaces every
    * live file with id-stamped rewrites. This is that commit: a
    * compact-shaped rewrite (MOR-folding, like [[compact]]) whose new
    * schema carries ids 1..n in field order. Time travel is unaffected —
    * pre-retrofit snapshots keep their id-less schemas and resolve their
    * own (id-less) files by name, exactly as before. Data-equivalent for
    * the changelog (no CDC rows), a rewrite barrier for incremental
    * scans (like compact). No-op on tables already carrying ids. */
  def retrofitFieldIds(
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    require(exists, s"no such table: $location")
    require(branchName.isEmpty, "retrofit must run on the main table")
    val st = state()
    val cur = st.schema
    // fullyStamped, not hasIds: a top-level-id'd table whose NESTED
    // parts predate nested stamping still needs the rewrite (its
    // footers lack the nested ids an id-aware reader would request).
    // New ids allocate ABOVE anything any historical schema ever used
    // — a dropped column's id must never resurrect as a nested leaf's
    // (external id-aware readers of earlier exports would silently
    // rebind it)
    if (FieldIds.fullyStamped(cur)) return st.tipId.get
    val withIds = FieldIds.assign(cur,
      floor = FieldIds.maxId(st.snapshots.map(st.schemaOf)))
    val removed = st.liveFiles
    val added =
      if (removed.isEmpty) Seq.empty
      else {
        val n = math.max(1L, (bytesOf(st, removed) + targetFileBytes - 1)
          / targetFileBytes).toInt
        stage(st, align(read(st).coalesce(n), withIds), clustered = true)
      }
    commit("retrofit", added, removed, _ => withIds.json, st.partitionCols,
      expectedParent = st.tipId, removeDeletes = st.liveDeletes.map(_.path),
      view = Some(st))
  }

  /** Manifest compaction (the Iceberg rewrite_manifests action): commit a
    * BASE-STATE snapshot whose single fresh manifest carries the entire
    * live state — files with their stats, row counts, sizes, and ORIGINAL
    * add-sequences, plus live tombstones with original sequences. Data
    * files are untouched and history is preserved (older reads replay
    * from their own earlier base), but every resolution at or after this
    * snapshot parses only the manifests committed SINCE it — the cure for
    * long-lived tables whose chain has accumulated thousands of small
    * per-commit manifests. Incremental scans refuse to cross it, like any
    * rewrite. */
  def rewriteManifests(): Long = {
    val st = state()
    commit("rewrite-manifests", st.entriesFor(st.liveFiles), Seq.empty,
      parentSchema, st.partitionCols, expectedParent = st.tipId,
      reAddDeletes = st.liveDeletes, base = true, view = Some(st))
  }

  /** Rollback: make `snapshotId`'s state current again via a NEW snapshot
    * (the Iceberg rollback_to_snapshot action). History is preserved —
    * time travel to the rolled-back-over states still works. */
  def rollback(snapshotId: Long): Long = {
    val st = state()
    val at = st.at(Some(snapshotId))
    val target = at.liveFiles
    val current = st.liveFiles
    // restore the delete-file set too, with ORIGINAL sequences (reAdd) —
    // otherwise rolled-back tombstones would stop applying (fresh seq) or
    // deleted rows would resurrect (tombstone missing)
    val targetDel = at.liveDeletes
    val currentDel = st.liveDeletes
    val currentDelPaths = currentDel.map(_.path).toSet
    val targetDelPaths = targetDel.map(_.path).toSet
    // re-added files carry their whole entries from the target view, with
    // their ORIGINAL add-sequences explicit — with base-state replay their
    // first adds may lie behind a later base, and a fresh sequence would
    // detach them from their tombstones. Their stats are keyed by the
    // current schema's names, which the rollback commit is published under
    commit("rollback", at.entriesFor(target.diff(current), names = st),
      current.diff(target), parentSchema, st.partitionCols,
      expectedParent = st.tipId,
      reAddDeletes = targetDel.filterNot(d => currentDelPaths.contains(d.path)),
      removeDeletes = currentDel.map(_.path).filterNot(targetDelPaths.contains),
      view = Some(st))
  }

  /** Snapshot expiration (the Iceberg expire_snapshots action): retain the
    * last `keepLast` snapshots; the oldest retained snapshot is rewritten
    * as a baseline holding its cumulative live file set, older metadata is
    * deleted, and data files no longer reachable from any retained
    * snapshot are physically removed. Returns deleted data files. */
  /** Age-based retention (Iceberg's `expire_snapshots(older_than)`
    * form): expire snapshots committed strictly before `cutoffMs`,
    * always retaining at least `retainLast` (default 1) regardless of
    * age. Reduces to [[expireSnapshots]] with the computed suffix
    * length, so tag pinning and baseline semantics are identical. */
  def expireOlderThan(cutoffMs: Long, retainLast: Int = 1): Seq[String] = {
    require(retainLast >= 1, "must retain at least one snapshot")
    val newer = snapshots.count(_.timestampMs >= cutoffMs)
    expireSnapshots(math.max(retainLast, newer))
  }

  def expireSnapshots(keepLast: Int): Seq[String] = {
    require(branchName.isEmpty, "expireSnapshots must run on the main table")
    require(keepLast >= 1, "must retain at least one snapshot")
    val st = state()
    val all = st.snapshots
    // tagged snapshots are pinned (Iceberg ref-retention): expiring one
    // would silently empty every read through its tag. Retention is
    // SUFFIX-shaped by design — the chain replays linearly from one
    // baseline, so everything at or after the oldest live tag is kept
    // (drop stale tags to release their history). Tags pointing outside
    // the chain (already absorbed, or garbage) pin nothing. Branch fork
    // points pin identically: a branch replays main up to its fork, so
    // expiring the fork out from under it would empty the branch's reads.
    val chainIds = all.map(_.snapshotId).toSet
    val tagged = (st.refs.values ++ branches.values).filter(chainIds.contains)
    val keep =
      if (tagged.isEmpty) keepLast
      else math.max(keepLast,
        all.size - all.indexWhere(_.snapshotId == tagged.min))
    if (all.size <= keep) return Seq.empty
    val retained = all.takeRight(keep)
    val expired = all.dropRight(keep)
    val oldest = retained.head

    // baseline: the oldest retained snapshot absorbs the history below it.
    // Its per-file payload (carried files + their stats, row counts and
    // ORIGINAL add-sequences — all would otherwise be lost with the
    // expired snapshots) goes into a fresh manifest; live tombstones are
    // carried with original sequences so "delete at seq D applies below D"
    // keeps holding after the adding snapshots are gone. Replacement is a
    // single atomic OVERWRITE rename — a crash can leave the old or the
    // new baseline, never a hole in the chain.
    val atOldest = st.at(Some(oldest.snapshotId))
    val baselineFiles = atOldest.liveFiles
    val baselineEntries = atOldest.entriesFor(baselineFiles)
    val baselineDeletes = atOldest.liveDeletes
    // cleanup candidates are computed BEFORE the expired manifests go away
    val candidates = (expired.flatMap(s => entriesOf(s).map(_.path)) ++
      expired.flatMap(_.addedDeleteFiles.toSeq.flatten.map(_.path)) ++
      expired.flatMap(_.removedDeleteFiles.toSeq.flatten)).distinct
    val retainedTailAdds = retained.tail.flatMap(addedFilesOf)

    val baselineManifest =
      if (baselineEntries.isEmpty) None
      else Some(writeManifest(baselineEntries, oldest.partitionCols))
    // idempotent-writer stamps on EXPIRED snapshots must survive the
    // truncation or a replaying writer double-applies its last batch:
    // absorb the max batch per appId (incl. stamps a previous expire
    // already absorbed onto the old baseline) into the new baseline
    val absorbedStamps: Map[String, Long] = {
      val pairs = (expired :+ oldest).flatMap(s =>
        s.txnAppId.zip(s.txnBatchId).toSeq ++
          s.txnStamps.getOrElse(Map.empty).toSeq)
      pairs.groupBy(_._1).map { case (a, ps) => a -> ps.map(_._2).max }
    }
    val baseline = oldest.copy(
      parentId = None,
      addedDeleteFiles =
        if (baselineDeletes.isEmpty) None else Some(baselineDeletes),
      removedDeleteFiles = None,
      base = Some(true),
      txnStamps =
        if (absorbedStamps.isEmpty) None else Some(absorbedStamps),
      manifest = baselineManifest)
    val tmp = new Path(metaPath, s".tmp-${UUID.randomUUID()}.json")
    val out = fs.create(tmp, false)
    try out.write(Snapshot.toJson(baseline).getBytes("UTF-8")) finally out.close()
    val dest = new Path(metaPath, snapFileName(oldest.snapshotId))
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      tablePath.toUri, spark.sessionState.newHadoopConf())
    fc.rename(tmp, dest, org.apache.hadoop.fs.Options.Rename.OVERWRITE)

    // expired snapshot records, their manifests, and the oldest's
    // superseded pre-baseline manifest are all unreachable now
    expired.foreach { s =>
      fs.delete(new Path(metaPath, snapFileName(s.snapshotId)), false)
      s.manifest.foreach(m => fs.delete(new Path(tablePath, m.path), false))
      // expired commits' materialized CDC files are unreachable too
      fs.delete(changesPath(s.snapshotId), true)
    }
    oldest.manifest.foreach(m =>
      fs.delete(new Path(tablePath, m.path), false))

    // physical cleanup: files referenced by no retained snapshot state
    // (delete files follow the same rule)
    val reachable = (baselineFiles ++ retainedTailAdds ++
      baselineDeletes.map(_.path) ++
      retained.tail.flatMap(_.addedDeleteFiles.toSeq.flatten.map(_.path))).toSet
    val orphans = candidates.filterNot(reachable.contains)
    orphans.foreach(f => fs.delete(new Path(tablePath, f), false))
    orphans
  }

  /** Orphan cleanup (the Iceberg remove_orphan_files action): delete data
    * files under the table dir that no snapshot references (e.g. left by a
    * crashed write between stage-move and commit). Only files older than
    * `olderThanMs` are touched — an in-flight writer that has moved files
    * in but not yet committed its snapshot must not lose them (Iceberg's
    * default guard is 3 days). Returns deleted files. */
  def removeOrphanFiles(
      olderThanMs: Long = 3L * 24 * 60 * 60 * 1000): Seq[String] = {
    require(branchName.isEmpty, "removeOrphanFiles must run on the main table")
    // pending (write-audit-publish) writes are referenced by their
    // marker, not by a snapshot — they are awaiting audit, not orphaned
    val pending = fs.globStatus(new Path(metaPath, "pending-*.json"))
      .toSeq.flatMap { st =>
        val name = st.getPath.getName
          .stripPrefix("pending-").stripSuffix(".json")
        try pendingEntries(name)._2.map(_.path)
        catch { case _: Exception => Seq.empty }
      }
    // unpublished branch commits reference real staged files — awaiting
    // fastForward, not orphaned
    val branchReferenced = branches.keys.toSeq.flatMap(b =>
      branchOnlySnapshots(b).flatMap(s =>
        addedFilesOf(s) ++ s.addedDeleteFiles.toSeq.flatten.map(_.path)))
    val chain = snapshots
    val referenced = (chain.flatMap(s =>
      addedFilesOf(s) ++ s.addedDeleteFiles.toSeq.flatten.map(_.path)) ++
      pending ++ branchReferenced).toSet
    // materialized CDC dirs are referenced by their snapshot's existence
    // (no manifest entry); abandoned .tmp- staging dirs age out normally
    val liveChangeDirs = chain.map(s => s"_changes/${s.snapshotId}/").toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val it = fs.listFiles(tablePath, true)
    val orphans = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      val rel = stripPrefix(f.getPath.toString, tablePath.toString)
      if (f.getPath.getName.endsWith(".parquet") &&
          !rel.startsWith("_graft") &&
          // metadata/ is the Iceberg export tree: its converted
          // position-delete parquet is referenced by Avro manifests the
          // snapshot log cannot see
          !rel.startsWith("metadata/") &&
          !liveChangeDirs.exists(rel.startsWith) &&
          !referenced.contains(rel) &&
          f.getModificationTime < cutoff) {
        orphans += rel
        fs.delete(f.getPath, false)
      }
    }
    orphans.toSeq
  }

  /** Relative paths of live files that CONTAIN rows where `cond` is TRUE
    * — one probe scan with predicate pushdown; the rewrite is then
    * bounded by these files, not the table. The probe reads bare files
    * (tombstoned rows may over-match: they only add a file that the
    * MOR-aware rewrite cleans anyway). */
  private def filesMatching(st: TableState, live: Seq[String],
      cond: Column): Seq[String] = {
    if (live.isEmpty) return Seq.empty
    // keyed by full table-relative path, NOT basename: identical part-NNNNN
    // basenames across partition dirs would collapse in a basename map and
    // the rewrite would target the wrong file (silent row loss)
    val liveSet = live.toSet
    readFiles(st, live).filter(cond <=> lit(true))
      .select(input_file_name().as("__f")).distinct().collect()
      .map(r => relOfScanPath(r.getString(0)))
      .filter(liveSet.contains).toSeq
  }

  /** SQL DELETE FROM semantics: copy-on-write rewrite of ONLY the files
    * containing matching rows. Rows where the predicate evaluates to NULL
    * are KEPT (SQL deletes where the condition is TRUE). Table property
    * `graft.delete.mode=mor` (the Iceberg write.delete.mode=merge-on-read
    * analogue) routes to [[deletePositions]] instead — O(matched rows)
    * written, nothing rewritten. */
  def delete(cond: Column): Long = {
    val st = state()
    if (st.properties.get("graft.delete.mode").contains("mor"))
      return deletePositions(st, cond)
    val matched = filesMatching(st, st.liveFiles, cond)
    if (matched.isEmpty) return st.tipId.getOrElse(
      throw new IllegalStateException(s"no such table: $location"))
    val kept = morRead(st, matched).filter(!(cond <=> lit(true)))
    commit("delete", stage(st, align(kept, st.schema)), matched, parentSchema,
      st.partitionCols, expectedParent = st.tipId, view = Some(st))
  }

  /** The scan-time URI of a table-relative file — the exact string
    * `_metadata.file_path` renders ([[DeleteApply.scanUri]]); position
    * writes verify it and [[morRead]] fails on a file it misses. */
  private[table] def scanUriOf(rel: String): String =
    DeleteApply.scanUri(fs, new Path(tablePath, rel))

  /** MOR point delete via POSITION deletes (the Iceberg v2 second delete
    * encoding): rows where `cond` is TRUE are tombstoned as
    * (file_path, pos) pairs — `pos` the parquet row ordinal
    * (`_metadata.row_index`) in the table-relative `file_path` — and the
    * read applies them file-locally. Nothing is rewritten: the commit
    * writes O(matched rows), not O(matched files), which is the cheaper
    * encoding for point deletes at scale (a COW delete of 100 rows
    * spread over 100 large files rewrites all of them; this writes one
    * tiny tombstone file). Stats-pruned like the COW path: only files
    * whose min/max/Bloom can contain a match are scanned. Concurrent
    * appends/merges do not conflict (nothing removed — an append-shaped
    * commit); positions are immutable facts about the named files, so
    * late application stays correct, and like equality deletes the
    * tombstone applies only to files added strictly before its sequence.
    * But a concurrent REWRITE (compact/fold/COW) that retires a named
    * file would strand the tombstone on dead files — silently dropping
    * the delete — so the commit re-validates its named files live at
    * the tip on every publish attempt and conflicts if one vanished
    * (Iceberg's validateDataFilesExist). Auto-folds past the
    * live-tombstone threshold like MOR merges. */
  def deletePositions(cond: Column): Long = deletePositions(state(), cond)

  private def deletePositions(st: TableState, cond: Column): Long = {
    val matched = filesMatching(st, st.liveFiles, cond)
    if (matched.isEmpty) return st.tipId.getOrElse(
      throw new IllegalStateException(s"no such table: $location"))
    val hits = readFiles(st, matched)
      .filter(cond <=> lit(true))
      .select(col("_metadata.file_path").as(GraftTable.UriCol),
        col("_metadata.row_index").as(GraftTable.PosCol))
      .cache()
    try {
      val positions = tablePositions(hits, matched)
      val nRows = positions.count()
      if (nRows == 0) return st.tipId.get
      val hitFiles = positions.select("file_path").distinct()
        .collect().map(_.getString(0)).toSeq
      val staged = stageDeletes(positions.orderBy("file_path", "pos"), nRows)
      commit("delete", Seq.empty, Seq.empty, parentSchema,
        st.partitionCols, addDeletePaths = staged,
        addDeleteContent = Some("position"), requireLiveFiles = hitFiles,
        view = Some(st), autoFold = true)
    } finally hits.unpersist()
  }

  /** (`file_path`, `pos`) of `hits` (scan bridge columns over `files`);
    * a URI [[scanUriOf]] did not predict fails loudly. */
  private def tablePositions(hits: DataFrame, files: Seq[String])
      : DataFrame = {
    val lookup = spark.createDataFrame(files.map(f => scanUriOf(f) -> f))
      .toDF(GraftTable.UriCol, "file_path")
    val joined = hits.select(col(GraftTable.UriCol),
        col(GraftTable.PosCol).as("pos"))
      .join(broadcast(lookup), Seq(GraftTable.UriCol), "left")
    val unmatched = joined.filter(col("file_path").isNull)
      .select(GraftTable.UriCol).distinct().collect().map(_.getString(0))
    require(unmatched.isEmpty,
      "position-delete path translation failed: scan reported file " +
        s"URIs not predicted by scanUriOf — ${unmatched.take(3).mkString(", ")}")
    joined.select("file_path", "pos")
  }

  /** MOR point update via POSITION deletes (the Iceberg
    * write.update.mode=merge-on-read analogue): rows where `cond` is
    * TRUE are tombstoned as (file_path, pos) pairs and their updated
    * versions appended as new data files — ONE atomic commit, nothing
    * rewritten. Write cost is O(matched rows), not O(matched files): a
    * 100-row update spread over 100 large files writes ~100 rows + one
    * tiny tombstone file where COW rewrites every touched file. The
    * tombstone's sequence equals the commit's, and position deletes
    * apply only to files added strictly earlier — so the same-commit
    * updated rows are untouched by construction. The matched-row scan is
    * MOR-aware ([[morRead]] keepPos): rows already dead under live
    * tombstones can never be resurrected as "updated". Unlike
    * [[deletePositions]] (append-shaped, conflict-free), an update is a
    * read-modify-write: it pins `expectedParent`, so a concurrent commit
    * aborts it (same isolation as the COW path) — otherwise two
    * concurrent updates of one row would each tombstone the original and
    * BOTH append their version, duplicating the row. */
  def updatePositions(set: Map[String, Column],
      cond: Option[Column]): Long = updateWith(state(), set, cond, mor = true)

  /** SQL UPDATE semantics: rewrite only the files containing matching
    * rows, applying `set` to rows where `cond` is TRUE (all rows when
    * None); other rows in those files are carried unchanged. Table
    * property `graft.update.mode=mor` routes to [[updatePositions]]
    * instead — O(matched rows) written, nothing rewritten. */
  def update(set: Map[String, Column], cond: Option[Column]): Long = {
    val st = state()
    updateWith(st, set, cond,
      mor = st.properties.get("graft.update.mode").contains("mor"))
  }

  private def updateWith(st: TableState, set: Map[String, Column],
      cond: Option[Column], mor: Boolean): Long = {
    val sch = st.schema
    set.keys.foreach(k => require(sch.fieldNames.contains(k),
      s"UPDATE SET column $k not in schema"))
    val matched = cond match {
      case Some(c) => filesMatching(st, st.liveFiles, c)
      case None => st.liveFiles
    }
    if (matched.isEmpty) return st.tipId.getOrElse(
      throw new IllegalStateException(s"no such table: $location"))
    val hit = cond.map(_ <=> lit(true)).getOrElse(lit(true))
    if (!mor) {
      val updated = morRead(st, matched).select(sch.fieldNames.map { c =>
        set.get(c) match {
          case Some(v) => when(hit, v.cast(sch(c).dataType))
            .otherwise(col(c)).as(c)
          case None => col(c)
        }
      }.toIndexedSeq: _*)
      return commit("update", stage(st, align(updated, sch)), matched,
        parentSchema, st.partitionCols, expectedParent = st.tipId,
        view = Some(st))
    }
    val rows = morRead(st, matched, keepPos = true).filter(hit).cache()
    try {
      val positions = tablePositions(rows, matched)
      val nRows = positions.count()
      if (nRows == 0) return st.tipId.get
      val updated = rows.select(sch.fieldNames.map { c =>
        set.get(c) match {
          case Some(v) => v.cast(sch(c).dataType).as(c)
          case None => col(c)
        }
      }.toIndexedSeq: _*)
      val added = stage(st, align(updated, sch))
      val delStaged =
        stageDeletes(positions.orderBy("file_path", "pos"), nRows)
      commit("update", added, Seq.empty, parentSchema,
        st.partitionCols, expectedParent = st.tipId,
        addDeletePaths = delStaged, addDeleteContent = Some("position"),
        view = Some(st), autoFold = true)
    } finally rows.unpersist()
  }

  /** J1: MERGE INTO — see [[MergeInto.merge]]. `opCol` opts into the
    * CDC-delete extension (WHEN MATCHED AND op='D' THEN DELETE).
    * `mode`: "cow" (default) rewrites overlapping files; "mor" writes
    * key-tombstone delete files instead (merge-on-read, the reference's
    * silver table format, /root/reference/bronze-silver.py:184-194);
    * "auto" picks MOR when the rewrite would be large relative to the
    * batch. */
  def merge(source: DataFrame, keys: Seq[String], dedupKey: Seq[String],
      orderCol: String, opCol: Option[String] = None,
      deleteOps: Seq[String] = Seq("D"), mode: String = "cow",
      // idempotent-writer stamp, same contract as append(txn=...): a
      // (appId, batchId) already at-or-below the last committed batch
      // for appId makes the merge a no-op — exactly-once incremental
      // consumers (TableFeed, IncrementalRollup) replay crashes safely
      txn: Option[(String, Long)] = None,
      // column-level WHEN MATCHED THEN UPDATE SET (see MergeInto.merge)
      updateSet: Option[Seq[(String, org.apache.spark.sql.Column)]] = None,
      // WHEN NOT MATCHED BY SOURCE THEN DELETE (see MergeInto.merge)
      syncDelete: Boolean = false,
      // WHEN MATCHED AND <cond> THEN UPDATE (see MergeInto.merge)
      updateCond: Option[org.apache.spark.sql.Column] = None,
      // residual ANSI clause shapes (see MergeInto.MergeExtras)
      extras: MergeInto.MergeExtras = MergeInto.MergeExtras(),
      // caller-guaranteed ≤1 row per dedupKey: skip the keep-latest
      // window dedup (see MergeInto.merge)
      sourceDistinct: Boolean = false): Long =
    MergeInto.merge(spark, this, source, keys, dedupKey, orderCol, opCol,
      deleteOps, mode, txn, updateSet, syncDelete, updateCond, extras,
      sourceDistinct)

  /** COW merge commit over the merge's state `st`: CAS on its tip. */
  private[table] def commitMerge(st: TableState, added: Seq[ManifestEntry],
      removed: Seq[String], txn: Option[(String, Long)] = None): Long =
    commit("merge", added, removed, parentSchema, st.partitionCols,
      expectedParent = st.tipId, txn = txn, view = Some(st))

  /** MOR merge commit: new data files + one equality-delete file, nothing
    * rewritten or removed — so unlike a COW merge it does NOT conflict
    * with concurrent commits: on a publish collision it retries against
    * the new tip like an append. This is sound because the tombstone's
    * sequence is assigned at commit time: whatever interleaving wins, the
    * result equals running the merges in commit order (last-committed
    * wins per key — the same answer sequential merges give). Concurrent
    * CDC upsert streams therefore never abort each other. Auto-folds past
    * the live-tombstone threshold ([[foldPast]]). */
  private[table] def commitMergeMor(st: TableState,
      added: Seq[ManifestEntry],
      deleteStaged: Seq[(String, Long)], keyCols: Seq[String],
      txn: Option[(String, Long)] = None,
      // a MOR merge that READ target values (partial/conditional
      // update: read-modify-write) must CAS on the snapshot it read —
      // committing append-like would silently lose a concurrent
      // writer's update to the same keys. Plain full-row MOR merges
      // pass None and stay append-like (last-committed-wins per key is
      // their honest semantics).
      expectedParent: Option[Long] = None): Long =
    commit("merge", added, Seq.empty, parentSchema, st.partitionCols,
      addDeletePaths = deleteStaged, addDeleteCols = Some(keyCols),
      txn = txn, expectedParent = expectedParent, view = Some(st),
      autoFold = true)

  /** Fold live MOR tombstones into the data: rewrite ONLY the data files
    * that have applicable deletes (group-wise anti-joins, same plan as
    * the read) and retire every live delete file. Untouched files carry
    * forward by reference, so the cost is bounded by TOMBSTONED bytes,
    * not table size — Iceberg's rewrite_position_delete_files analogue.
    * Time travel to pre-fold snapshots still sees the tombstones. */
  def foldDeletes(): Long = {
    val st = state()
    val deletes = st.liveDeletes
    if (deletes.isEmpty)
      return st.tipId.getOrElse(
        throw new IllegalStateException(s"table does not exist: $location"))
    val affected = st.liveFiles.filter(f => deletes.exists(
      _.seq > st.fileAddSeqs.getOrElse(f, Long.MaxValue)))
    val added =
      if (affected.isEmpty) Seq.empty
      else stage(st, align(morRead(st, affected), st.schema))
    commit("fold", added, affected, parentSchema, st.partitionCols,
      expectedParent = st.tipId, removeDeletes = deletes.map(_.path),
      view = Some(st))
  }

  /** Stage a tombstone key batch as parquet under `_deletes/`, returning
    * (path, bytes) pairs. Small batches (the common CDC case) write ONE
    * file from one task; a large forced-MOR batch is split across tasks
    * at ~[[GraftTable.MorDeleteFileRows]] rows per file, so the stage
    * write parallelizes instead of single-tasking an arbitrarily large
    * key set through coalesce(1). */
  private[table] def stageDeletes(keys: DataFrame,
      approxRows: Long): Seq[(String, Long)] = {
    val stage = new Path(metaPath, s"stage-del-${UUID.randomUUID()}")
    val nFiles = math.max(1L,
      (approxRows + GraftTable.MorDeleteFileRows - 1)
        / GraftTable.MorDeleteFileRows).toInt
    val shaped =
      if (nFiles == 1) keys.coalesce(1) else keys.repartition(nFiles)
    shaped.write
      // same committer rationale as stage: private stage dir,
      // real commit is the snapshot publish
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(stage.toString)
    Staging.moveStaged(fs, stage, tablePath)(_ =>
      s"_deletes/del-${UUID.randomUUID()}.parquet")
  }

  /** total on-disk bytes of `files` — manifest-recorded sizes, with a
    * getFileStatus fallback only for pre-size manifests. */
  private[table] def bytesOf(st: TableState, files: Seq[String]): Long = {
    val known = st.bytesFor(files)
    files.map(f => known.getOrElse(f,
      fs.getFileStatus(new Path(tablePath, f)).getLen)).sum
  }
}

object GraftTable {
  def apply(spark: SparkSession, location: String): GraftTable =
    new GraftTable(spark, location)

  /** `expectedParent` sentinel asserting a PARENTLESS publish: pass
    * `Some(NoParentSentinel)` when the caller's decision was computed
    * against an EMPTY snapshot chain, so a concurrent first commit makes
    * this one conflict instead of landing silently on top of it.
    * (`expectedParent = None` means "no check", so a CAS caller must map
    * an empty-chain read to this sentinel, never to None.) Snapshot ids
    * are non-negative, so -1 can never name a real parent. */
  val NoParentSentinel: Long = -1L

  /** Small-write shaping (see [[GraftTable.stage]]): a staged
    * batch whose optimizer size estimate is at most `SmallWriteMaxBytes`
    * is coalesced to ~`SmallWriteTargetBytes`-sized write tasks (so a
    * tiny batch writes ONE file); bigger writes keep their
    * parallelism. Byte thresholds, not core counts — the same
    * decision is right on local[32] and on a cluster. */
  val SmallWriteTargetBytes: Long = 32L * 1024 * 1024
  val SmallWriteMaxBytes: Long = 128L * 1024 * 1024

  /** A zero-row frame of `schema`: a local relation the optimizer sizes
    * at 0 bytes. An empty frame over an RDD would be sized at
    * `spark.sql.defaultSizeInBytes` (Long.MaxValue), so any write it
    * feeds — a first load's empty target, an empty stream batch — would
    * look too big for the small-write coalesce. */
  def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** The tip a CAS caller should pass as `expectedParent`: the id it
    * read, or the parentless assertion when the chain was empty. */
  def casParent(tip: Option[Long]): Option[Long] =
    Some(tip.getOrElse(NoParentSentinel))

  /** The same type with every array/map/struct container marked
    * nullable — the widest nullability shape, always a legal cast
    * target from any same-typed value (see [[GraftTable.align]]). */
  private[table] def widenContainers(dt: DataType): DataType = dt match {
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(widenContainers(et),
        containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(widenContainers(k),
        widenContainers(v), valueContainsNull = true)
    case StructType(fs) => StructType(fs.map(f =>
      f.copy(dataType = widenContainers(f.dataType), nullable = true)))
    case other => other
  }

  /** Auto-fold trigger: max live tombstone FILES before a MOR merge
    * commit folds them into the affected data files (property
    * `graft.merge.mor.max-delete-files` overrides). The read plan is one
    * anti-join per key-column set whatever the tombstone count; the
    * fold bounds the tombstone VOLUME each read joins against. */
  val MorMaxLiveDeleteFiles: Int = 10

  /** Rows per staged tombstone file: batches under this write ONE file
    * from one task; larger forced-MOR batches split across tasks. */
  val MorDeleteFileRows: Long = 4L * 1000 * 1000

  /** Internal bridge columns for position-delete application: the scan's
    * `_metadata.file_path` / `_metadata.row_index`, renamed so they can
    * never collide with user schemas that shadow `_metadata`. */
  private[table] val UriCol = "__graft_scan_uri__"
  private[table] val PosCol = "__graft_scan_pos__"

  private val SnapCacheMax = 10000
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), Snapshot]()
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  /** Put `v` in a parse cache, crudely bounded (entries re-fill on use). */
  private def cache[K, V](c: java.util.concurrent.ConcurrentHashMap[K, V],
      k: K, v: V): V = {
    if (c.size > SnapCacheMax) c.clear()
    c.put(k, v)
    v
  }

  /** Manifest-file parses (cache misses) — the observable evidence that a
    * partition-filtered plan read ONLY the manifests it needed. */
  val manifestParses = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Value-level scans launched by stats collection — stays at zero for
    * commits on tables without declared Bloom columns (bounds and row
    * counts come from parquet footers, never a second data scan). */
  val statsDataScans = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Drop the metadata parse caches (test hook: makes parse counters
    * measure a cold resolution). */
  def clearMetaCaches(): Unit = { snapCache.clear(); manifestCache.clear() }

  /** Parse `k=v` partition-dir components of a relative file path. Values
    * are decoded with Spark's own partition-path unescaper — URL-decoding
    * is NOT equivalent (it would turn a literal '+' into a space, which
    * Spark's escaper leaves untouched, silently corrupting partition
    * matching for such values). */
  def partitionValues(relPath: String): Map[String, String] =
    relPath.split('/').dropRight(1).flatMap { seg =>
      seg.split("=", 2) match {
        case Array(k, v) => Some(k ->
          org.apache.spark.sql.graftglue.GraftSqlGlue.unescapePathName(v))
        case _ => None
      }
    }.toMap

  /** Is `v` a parseable snapshot id (bounded digit run — tag names must
    * start with a letter)? The ONE definition shared by [[GraftTable.refs]],
    * SQL `VERSION AS OF` dispatch, and ref-property validation, so a
    * string can never be classified differently across the three. */
  def isSnapshotIdString(v: String): Boolean =
    v.nonEmpty && v.length <= 18 && v.forall(_.isDigit)

  /** The publish primitive all commits go through — swap for stores
    * without an atomic rename-or-fail (see [[CommitLock]]). */
  @volatile var commitLock: CommitLock = LinkCommitLock
}
