package graft.table

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.sql.types.{DataType, DoubleType, FloatType, StructType}

/** One resolution of a table's snapshot log ([[GraftTable.state]]): the
  * snapshots ONE listing of `_graft` found, viewed as of `asOf` (None =
  * the listing's tip). An operation takes one state and answers every
  * metadata question from it — chain, schemas, spec, properties, txn
  * stamps and, from ONE replay on first use, the live files with their
  * add entries, the add-sequences and the live tombstones. The state is
  * never kept past its operation: the listing is the visibility point
  * for concurrent commits, so the next operation lists again.
  *
  * Spec and properties are the listing's newest (the table's current
  * ones) in every view; the schema is the one `asOf` was committed under
  * (Iceberg semantics: time travel reads historical schemas). */
final class TableState private (val table: GraftTable,
    /** every listed snapshot, ascending — on a branch, main up to the
      * fork point, then the branch's own commits */
    val snapshots: Seq[Snapshot],
    val asOf: Option[Long],
    /** the fork point, when the listing is a branch's */
    val branchBase: Option[Long],
    views: TrieMap[Option[Long], TableState]) {

  private[table] def this(table: GraftTable, snapshots: Seq[Snapshot],
      branchBase: Option[Long]) =
    this(table, snapshots, None, branchBase, TrieMap.empty)

  /** The same listing viewed as of `id`; an operation's views share one
    * replay each however often it asks. */
  def at(id: Option[Long]): TableState = views.getOrElseUpdate(id,
    new TableState(table, snapshots, id, branchBase, views))

  /** The chain up to `asOf`. */
  private val chain: Seq[Snapshot] = asOf match {
    case Some(id) => snapshots.takeWhile(_.snapshotId <= id)
    case None => snapshots
  }
  def tip: Option[Snapshot] = chain.lastOption
  def tipId: Option[Long] = tip.map(_.snapshotId)
  def latest: Option[Snapshot] = snapshots.lastOption

  private val parsed = TrieMap.empty[Long, StructType]

  /** The schema snapshot `s` was committed under. */
  def schemaOf(s: Snapshot): StructType = parsed.getOrElseUpdate(
    s.snapshotId, DataType.fromJson(s.schemaJson).asInstanceOf[StructType])

  /** The schema as of `asOf`; below expired history, the latest (such a
    * read is empty anyway). */
  lazy val schema: StructType = tip.orElse(latest).map(schemaOf).getOrElse(
    throw new IllegalStateException(s"no such table: ${table.location}"))

  /** The schema as of snapshot `id`. */
  def schemaIn(id: Long): StructType = at(Some(id)).schema

  def partitionCols: Seq[String] =
    latest.map(_.partitionCols).getOrElse(Seq.empty)
  def partitionFields: Seq[PartitionField] =
    partitionCols.map(PartitionTransforms.parse)
  /** Transform partitioning: source columns stay in the data files and
    * the derived values exist only in the dir layout. */
  def hasHiddenPartitions: Boolean = partitionFields.exists(!_.isIdentity)

  def properties: Map[String, String] =
    latest.flatMap(_.properties).getOrElse(Map.empty)

  /** Named snapshot refs (tag → id); non-numeric `graft.ref.*` values
    * (settable through raw SET TBLPROPERTIES) are ignored. */
  def refs: Map[String, Long] = properties.collect {
    case (k, v) if k.startsWith("graft.ref.") &&
        GraftTable.isSnapshotIdString(v) =>
      k.stripPrefix("graft.ref.") -> v.toLong
  }

  /** Highest batch id committed by idempotent writer `appId`. */
  def lastTxnBatch(appId: String): Option[Long] = {
    val ids = snapshots.flatMap(s =>
      s.txnBatchId.filter(_ => s.txnAppId.contains(appId)).toSeq ++
        s.txnStamps.flatMap(_.get(appId)).toSeq)
    if (ids.isEmpty) None else Some(ids.max)
  }

  /** The chain suffix a replay needs: from the LAST base snapshot
    * (create / expire baseline / rewrite-manifests — its manifest
    * carries the full live state) at or before `asOf`. */
  private def replayRange: Seq[Snapshot] = {
    val start = chain.lastIndexWhere(_.base.contains(true))
    if (start <= 0) chain else chain.drop(start)
  }

  import TableState.Merged

  /** What the one replay yields: the live files, a merged entry per data
    * file it saw ([[TableState.Merged]]), and the live tombstones. */
  private final class Replay {
    val live = mutable.LinkedHashSet.empty[String]
    val files = mutable.Map.empty[String, Merged]
    val deletes = mutable.LinkedHashMap.empty[String, DeleteFile]
  }

  private lazy val replay: Replay = {
    val r = new Replay
    replayRange.foreach { s =>
      s.removedDeleteFiles.foreach(_.foreach(r.deletes.remove))
      s.addedDeleteFiles.foreach(_.foreach(d => r.deletes(d.path) = d))
      val es = table.entriesOf(s)
      es.foreach(e => if (e.status == "remove") r.live -= e.path)
      es.foreach { e =>
        if (e.status == "add") {
          r.live += e.path
          val st = e.stats.filter(_.nonEmpty).map(_ -> s)
          r.files(e.path) = r.files.get(e.path) match {
            case None => Merged(e.seq.getOrElse(s.snapshotId), e.rows,
              e.bytes, st)
            case Some(m) => Merged(m.seq, e.rows.orElse(m.rows),
              e.bytes.orElse(m.bytes), st.orElse(m.stats))
          }
        }
      }
    }
    r
  }

  /** Live data files (table-relative paths), in commit order. */
  lazy val liveFiles: Seq[String] = replay.live.toSeq

  /** Live MOR tombstones with their apply-before sequences. */
  lazy val liveDeletes: Seq[DeleteFile] = replay.deletes.values.toSeq

  /** Add-sequence of every data file the replay saw. */
  lazy val fileAddSeqs: Map[String, Long] =
    replay.files.iterator.map { case (f, m) => f -> m.seq }.toMap

  /** The live tombstones later than the oldest of `files`. */
  def applicableDeletes(files: Seq[String]): Seq[DeleteFile] =
    if (liveDeletes.isEmpty || files.isEmpty) Nil
    else {
      val minSeq = files.map(fileAddSeqs.getOrElse(_, Long.MaxValue)).min
      liveDeletes.filter(_.seq > minSeq)
    }

  /** The add entries a commit carrying `files` records: each file's
    * merged entry with its sequence explicit, so the carried file keeps
    * its place relative to the tombstones, and its stats keyed by
    * `names`' columns — the view whose schema the carrying commit is
    * published under (this one by default; see [[statsFor]]). A file
    * the replay never saw is left out. */
  def entriesFor(files: Seq[String],
      names: TableState = this): Seq[ManifestEntry] =
    files.flatMap(f => replay.files.get(f).map(m =>
      ManifestEntry(f, "add",
        stats = m.stats.map { case (st, s) => names.remapped(st, s) },
        rows = m.rows, seq = Some(m.seq), bytes = m.bytes)))

  /** Recorded row counts / on-disk sizes of `files`; a file missing from
    * the result has none recorded. */
  def rowsFor(files: Seq[String]): Map[String, Long] =
    files.flatMap(f => replay.files.get(f).flatMap(_.rows).map(f -> _)).toMap
  def bytesFor(files: Seq[String]): Map[String, Long] =
    files.flatMap(f => replay.files.get(f).flatMap(_.bytes).map(f -> _)).toMap

  /** Recorded column stats of `files`, keyed by THIS view's column
    * names: stats are recorded under the names and types current when
    * a file was written, so they are remapped through field ids after a
    * RENAME (pruning sites look up by today's name — a miss would lose
    * pruning, not corrupt it) and re-rendered after float→double
    * promotion. A float's stat string ("0.1") parsed as DOUBLE lands on
    * a different real than the exact float bound, so the bound is
    * parsed with the recording era's type, widened exactly and rendered
    * as the current type; its (type-dependent) Bloom bitset is dropped.
    * Integer-rank and decimal(p→p+) widenings round-trip their strings
    * untouched. A stat whose name maps to no current id keeps its key:
    * conservative, never mis-prunes. */
  def statsFor(files: Seq[String]): Map[String, Map[String, ColStat]] =
    files.flatMap(f => replay.files.get(f).flatMap(_.stats).map {
      case (st, s) => f -> remapped(st, s) }).toMap

  private lazy val curById = FieldIds.byId(schema)
  private lazy val curTypeByName: Map[String, DataType] =
    schema.fields.map(f => f.name -> f.dataType).toMap
  private val remaps =
    TrieMap.empty[Long, (Map[String, String], Map[String, DataType])]

  private def remapped(st: Map[String, ColStat],
      s: Snapshot): Map[String, ColStat] = {
    val (rn, rt) = remaps.getOrElseUpdate(s.snapshotId, {
      val fields = schemaOf(s).fields
      val renames =
        if (curById.isEmpty) Map.empty[String, String]
        else fields.flatMap(f => FieldIds.idOf(f).flatMap(curById.get)
          .filter(_ != f.name).map(f.name -> _)).toMap
      val retypes = fields.flatMap { f =>
        val curName = FieldIds.idOf(f).flatMap(curById.get).getOrElse(f.name)
        (f.dataType, curTypeByName.get(curName)) match {
          case (FloatType, Some(DoubleType)) => Some(f.name -> f.dataType)
          case _ => None
        }
      }.toMap
      (renames, retypes)
    })
    def rerender(v: Option[String], from: DataType): Option[String] =
      v.flatMap(x => Option(org.apache.spark.sql.graftglue.GraftSqlGlue
        .castFromString(x, from)).map {
          case f: java.lang.Float => f.toDouble.toString
          case other => other.toString
        })
    if (rn.isEmpty && rt.isEmpty) st
    else st.map { case (k, v0) =>
      val v = rt.get(k) match {
        case Some(from) => ColStat(rerender(v0.min, from),
          rerender(v0.max, from), bloom = None, nulls = v0.nulls)
        case None => v0
      }
      // dotted (struct-leaf) keys remap their TOP segment: graft renames
      // are top-level-only, so the tail is stable
      val i = k.indexOf('.')
      (if (i < 0) rn.getOrElse(k, k)
       else rn.get(k.take(i)).map(_ + k.substring(i)).getOrElse(k)) -> v
    }
  }

  /** Partition-filtered live files with MANIFEST SKIPPING: a snapshot
    * whose manifest summary proves no entry (add or remove) lies in a
    * kept partition contributes nothing, so its manifest is never parsed
    * (Iceberg's manifest-list partition-summary skipping). Skipping is
    * safe for removes: a remove of a pruned-out file removes nothing
    * from this set. `keep` maps partition column → kept values. */
  def liveFilesWhere(keep: Map[String, Set[String]]): Seq[String] = {
    val parts = partitionFields.map(_.physName)
    def fileMatches(f: String): Boolean = {
      val kv = GraftTable.partitionValues(f)
      parts.forall(p =>
        keep.get(p).forall(vals => kv.get(p).forall(vals.contains)))
    }
    def mayMatch(s: Snapshot): Boolean =
      s.manifest.flatMap(_.partitionValues).forall(pv =>
        keep.forall { case (c, vals) =>
          pv.get(c).forall(_.exists(vals.contains)) })
    val live = mutable.LinkedHashSet.empty[String]
    replayRange.filter(mayMatch).foreach { s =>
      val es = table.entriesOf(s)
      es.foreach(e => if (e.status == "remove") live -= e.path)
      es.foreach(e =>
        if (e.status == "add" && fileMatches(e.path)) live += e.path)
    }
    live.toSeq
  }

  // last, so a view is registered fully built
  views.putIfAbsent(asOf, this)
}

object TableState {
  /** One data file as the replay merged it: the FIRST add's sequence
    * (its `seq` override, else the adding snapshot's id — a rollback
    * re-adding a file keeps tombstones applicable to it) and the LAST
    * recorded rows, bytes and stats (with the snapshot that recorded
    * them, whose schema names the stats). */
  private final case class Merged(seq: Long, rows: Option[Long],
      bytes: Option[Long], stats: Option[(Map[String, ColStat], Snapshot)])
}
