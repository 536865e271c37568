package graft.iceberg

import java.io.File
import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit}
import org.apache.spark.sql.types._

import graft.table.{GraftTable, TableState}

/** Iceberg-compatible metadata export: writes a genuine Iceberg **v2**
  * metadata tree (`metadata/v<N>.metadata.json` + `version-hint.text` +
  * Avro manifest list + Avro manifest — the filesystem-tables layout of
  * the Iceberg spec) describing the CURRENT snapshot of a graft table,
  * so an external Iceberg-aware engine reads the table's data files
  * directly from table metadata — the reference's defining multi-engine
  * contract (four engines over one table,
  * /root/reference/README.md:127-197; its DuckDB demo hand-walks the
  * metadata JSON rather than using an extension,
  * query-engine/duckdbdemo/read_iceberg_duckdb.py:22-44,61).
  *
  * What is written (all per the public Iceberg table spec):
  *   - `metadata/v<N>.metadata.json` — format-version 2, schema with
  *     field ids, one snapshot whose `manifest-list` points at
  *   - `metadata/snap-<id>-1-<uuid>.avro` — the manifest list (field ids
  *     500-519), pointing at
  *   - `metadata/<uuid>-m0.avro` — one data manifest whose entries carry
  *     `file_path`, `record_count`, `file_size_in_bytes` for every live
  *     data file (ids 100-140; entry ids 0-4).
  *   - `metadata/version-hint.text` — the version pointer.
  *
  * Layout notes, honestly stated: identity-partitioned tables export a
  * real identity partition spec with per-file partition tuples in the
  * manifest (their column bytes live in the dir layout, not the data
  * files — readers reconstruct them from the tuples, as Iceberg
  * prescribes). day/month/truncate/bucket hidden transforms export as
  * REAL Iceberg transform specs with per-file partition tuples (day =
  * epoch days, month = months since 1970-01, truncate = the floored
  * value, bucket = the ordinal — graft buckets with the Appendix-B
  * murmur3 hash, so an external engine recomputing `bucket[n]` over a
  * predicate literal prunes truthfully), so external planners prune
  * directories exactly as the reference's consumers do. Per-file
  * column `lower_bounds`/`upper_bounds` (field ids 125/128, Appendix-D
  * single-value binary) are emitted from the snapshot log's footer
  * stats, so stats pruning works in external engines.
  *
  * LIVE MOR state exports faithfully in BOTH v2 delete encodings:
  * equality tombstones become `content=2` entries with `equality_ids`,
  * and position tombstones become `content=1` entries whose files are
  * converted to the spec's shape (full data-file URIs, reserved field
  * ids 2147483546/2147483545) under metadata/. Every data entry carries
  * its real data sequence number (the graft add-sequence) and each
  * delete entry its commit sequence — so an external v2 reader applies
  * an equality delete to exactly the data files whose sequence is
  * strictly lower (position: at-or-below), the same ordering graft's
  * own reads apply ([[graft.util.DeleteApply]]). This is the
  * reference's exact live-silver topology (its silver table is
  * merge-on-read, bronze-silver.py:184-194, read live by four engines,
  * README.md:127-197) — no foldDeletes/compact required before export.
  * Delete files are written under a dedicated UNPARTITIONED spec
  * (spec-id 1) when the table itself is partitioned, which per spec
  * scopes them globally — correct for graft tombstones, whose keys are
  * not partition-bounded.
  *
  * Scale: the export is pure metadata — one JSON + two Avro files whose
  * size is O(live files); no data is read or moved. Each call writes the
  * next metadata version (v1, v2, ...), so periodic export after commits
  * gives external engines a refreshing snapshot pointer.
  */
object IcebergExport {

  /** Iceberg type string for a Spark SCALAR type (nested types build
    * their JSON objects in [[schemaJsonWithLast]]). */
  private def icebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case BinaryType => "binary"
    case DateType => "date"
    // Spark TimestampType is UTC-adjusted instant => Iceberg timestamptz
    case TimestampType => "timestamptz"
    case TimestampNTZType => "timestamp"
    case d: DecimalType => s"decimal(${d.precision}, ${d.scale})"
    case other => throw new IllegalArgumentException(
      s"iceberg export does not support type $other")
  }

  private[iceberg] def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** A schema field's Iceberg id: the graft field id when the table was
    * born with them (it MUST be used then — the parquet footers carry
    * these ids, and id-aware external readers match file columns against
    * the metadata ids; an ordinal would diverge after any drop/rename),
    * ordinal + 1 for legacy name-mapped tables (whose files carry no
    * ids, so external readers fall back to names). */
  private def fieldId(schema: StructType, i: Int): Long =
    graft.table.FieldIds.idOf(schema.fields(i)).getOrElse(i + 1L)

  /** The Iceberg schema JSON (struct with the table's field ids). */
  private def schemaJson(schema: StructType): String =
    schemaJsonWithLast(schema)._1

  /** The Iceberg schema JSON plus its `last-column-id` (the max field
    * id at ANY depth — nested fields and collection element/key/value
    * slots count; spec §Table Metadata).
    *
    * Nested-type ids come from the table itself: named struct fields at
    * any depth carry [[graft.table.FieldIds]] ids (the same ids the
    * parquet writer stamps into footers, so id-aware external readers
    * resolve nested leaves too), and a list's element / a map's
    * key+value — which have no StructField — use the slot ids persisted
    * at assign time ([[graft.table.FieldIds.CollectionIdsKey]]). Fully
    * ID-LESS schemas (legacy name-mapped tables, declared catalog
    * schemas) allocate ordinal+1 for the top level then depth-first for
    * nested parts — deterministic, and their files carry no ids so
    * readers resolve by name exactly as before. A top-level-id'd table
    * whose NESTED parts are un-stamped (created before nested stamping)
    * refuses loud: inventing nested ids the footers don't carry would
    * break every id-aware reader, graft's own import included —
    * [[GraftTable.retrofitFieldIds]] rewrites such tables. */
  private[iceberg] def schemaJsonWithLast(
      schema: StructType): (String, Long) = {
    import graft.table.FieldIds
    val idless = schema.fields.forall(f => FieldIds.idOf(f).isEmpty)
    // top level first (ordinal+1 when id-less — the historical
    // numbering equality_ids and partition source-ids rely on), THEN
    // nested parts depth-first, mirroring FieldIds.assign
    val topIds = schema.fields.indices.map(fieldId(schema, _))
    var next: Long = math.max(
      schema.fields.flatMap(graft.table.FieldIds.deepIds)
        .foldLeft(0L)(math.max),
      topIds.max)
    var last: Long = 0L
    def note(id: Long): Long = { last = math.max(last, id); id }
    def alloc(): Long = { next += 1; next }
    def refuse(path: String): Nothing =
      throw new IllegalArgumentException(
        s"iceberg export: nested field/slot '$path' has no persisted " +
          "field id but the table's top-level columns carry ids — " +
          "nested ids invented at export time would not match the " +
          "parquet footers and id-aware readers would fail; run " +
          "retrofitFieldIds (rewrites files with fully-stamped " +
          "footers) or recreate the table")
    // `owner` = nearest enclosing StructField (holds the slot-id map);
    // `spath` = slot path relative to owner; `fpath` = dotted field path
    def typeOf(owner: StructField, dt: DataType, spath: String,
        fpath: String): String = dt match {
      case st: StructType =>
        val inner = st.fields.map { c =>
          val cid = note(FieldIds.idOf(c).getOrElse(
            if (idless) alloc() else refuse(s"$fpath.${c.name}")))
          s"""{"id": $cid, "name": ${jsonStr(c.name)}, "required": false, "type": ${typeOf(c, c.dataType, "", s"$fpath.${c.name}")}}"""
        }
        s"""{"type": "struct", "fields": [${inner.mkString(", ")}]}"""
      case ArrayType(et, _) =>
        val p = if (spath.isEmpty) "element" else s"$spath.element"
        val eid = note(FieldIds.collectionIdsOf(owner).getOrElse(p,
          if (idless) alloc() else refuse(s"$fpath ($p)")))
        s"""{"type": "list", "element-id": $eid, "element": ${typeOf(owner, et, p, fpath)}, "element-required": false}"""
      case MapType(kt, vt, _) =>
        val pk = if (spath.isEmpty) "key" else s"$spath.key"
        val pv = if (spath.isEmpty) "value" else s"$spath.value"
        val kid = note(FieldIds.collectionIdsOf(owner).getOrElse(pk,
          if (idless) alloc() else refuse(s"$fpath ($pk)")))
        val kJson = typeOf(owner, kt, pk, fpath)
        val vid = note(FieldIds.collectionIdsOf(owner).getOrElse(pv,
          if (idless) alloc() else refuse(s"$fpath ($pv)")))
        s"""{"type": "map", "key-id": $kid, "key": $kJson, "value-id": $vid, "value": ${typeOf(owner, vt, pv, fpath)}, "value-required": false}"""
      case scalar => jsonStr(icebergType(scalar))
    }
    val fields = schema.fields.zipWithIndex.map { case (f, i) =>
      note(topIds(i))
      s"""{"id": ${topIds(i)}, "name": ${jsonStr(f.name)}, "required": false, "type": ${typeOf(f, f.dataType, "", f.name)}}"""
    }
    (s"""{"type": "struct", "schema-id": 0, "fields": [${fields.mkString(", ")}]}""",
      last)
  }


  /** Iceberg transform name for an exportable hidden-partition field.
    * bucket() is exportable since graft switched its bucket hash to the
    * Iceberg Appendix-B function ([[graft.functions.IcebergBucketHash]]:
    * murmur3_x86_32 of the spec's byte encoding, & MaxInt, % n) — an
    * external engine recomputing `bucket[n]` over a predicate literal
    * lands on exactly the dir value graft wrote, so bucket pruning is
    * truthful end to end. */
  private def icebergTransform(t: graft.table.PartTransform): Option[String] =
    t match {
      case graft.table.PartTransform.Identity => Some("identity")
      case graft.table.PartTransform.Years => Some("year")
      case graft.table.PartTransform.Days => Some("day")
      case graft.table.PartTransform.Months => Some("month")
      case graft.table.PartTransform.Hours => Some("hour")
      case graft.table.PartTransform.Truncate(w) => Some(s"truncate[$w]")
      case graft.table.PartTransform.Bucket(n) => Some(s"bucket[$n]")
    }

  /** An exported transform field's Iceberg partition VALUE from its
    * directory string: day → epoch days (int), month → months from
    * 1970-01 (int), bucket → the bucket ordinal (int), truncate → the
    * truncated source value. */
  private def transformValue(t: graft.table.PartTransform, dir: String,
      srcType: DataType): Any = t match {
    case graft.table.PartTransform.Years =>
      dir.toInt - 1970 // Iceberg year transform: years from 1970
    case graft.table.PartTransform.Hours =>
      // "yyyy-MM-dd-HH" → hours from epoch (Iceberg hour transform)
      val Array(y, m, d, h) = dir.split("-").map(_.toInt)
      val day = java.time.LocalDate.of(y, m, d).toEpochDay
      (day * 24L + h).toInt
    case graft.table.PartTransform.Days =>
      java.time.LocalDate.parse(dir).toEpochDay.toInt
    case graft.table.PartTransform.Months =>
      val Array(y, m) = dir.split("-").map(_.toInt)
      (y - 1970) * 12 + (m - 1)
    case graft.table.PartTransform.Bucket(_) => dir.toInt
    case graft.table.PartTransform.Truncate(_) =>
      IcebergManifests.partitionValue(dir, srcType)
    case graft.table.PartTransform.Identity =>
      IcebergManifests.partitionValue(dir, srcType)
  }

  /** CREATE a table catalog-first: build the spec's CreateTableRequest
    * (Iceberg schema JSON from the declared Spark schema; identity or
    * hidden-partition transform fields via the standard
    * `transform(col)` syntax) and POST it through
    * [[graft.catalog.RestCatalog.createTable]] — the CATALOG writes and
    * owns the initial metadata (no snapshot; the first
    * [[IcebergWriteBack.appendToCatalog]] commits against the
    * null-form main assert). The reference's create-if-not-exists
    * bronze path (`/root/reference/raw-bronze.py:178-183`) is exactly
    * `ifNotExists = true` followed by the append. Returns the
    * metadata-location. */
  def createTableCatalog(spark: SparkSession, catalogUri: String,
      identifier: String, schema: StructType,
      partitionBy: Seq[String] = Nil, location: Option[String] = None,
      formatVersion: Int = 2, ifNotExists: Boolean = false): String = {
    import org.json4s._
    import org.json4s.JsonDSL._
    require(formatVersion == 2 || formatVersion == 3,
      s"format-version must be 2 or 3, got $formatVersion")
    val schemaJ = org.json4s.jackson.JsonMethods.parse(
      schemaJson(schema))
    val fields = partitionBy.map(graft.table.PartitionTransforms.parse)
    fields.foreach { f =>
      require(schema.fieldNames.contains(f.source),
        s"partition source column '${f.source}' not in schema " +
          schema.fieldNames.mkString("(", ", ", ")"))
      graft.table.PartitionTransforms.validateSourceType(f,
        schema(f.source).dataType)
    }
    val specJ: Option[JValue] =
      if (fields.isEmpty) None
      else Some(("spec-id" -> 0) ~ ("fields" ->
        JArray(fields.zipWithIndex.map { case (f, i) =>
          (("name" -> f.physName) ~
            ("transform" -> icebergTransform(f.transform).getOrElse(
              throw new IllegalArgumentException(
                s"transform ${f.transform} has no iceberg form"))) ~
            ("source-id" -> fieldId(schema,
              schema.fieldIndex(f.source))) ~
            ("field-id" -> (1000 + i))): JValue
        }.toList)))
    graft.catalog.RestCatalog.createTable(catalogUri, identifier,
      schemaJ, specJ, location, formatVersion, ifNotExists)
  }

  /** Export `table` as Iceberg v2 metadata under
    * `<table.location>/metadata/`: the current snapshot plus up to
    * `history - 1` immediately-preceding snapshots that share the
    * current schema, each with its own manifest list — so external
    * engines TIME-TRAVEL the export ([[scan]]'s `at`,
    * `read_iceberg_duckdb.py --at`). Tag refs resolving to an exported
    * snapshot ride along in `refs`, and so do BRANCH refs: each live
    * branch's tip is exported as its own snapshot entry (replayed on the
    * branch chain), so external engines read write-audit-publish staging
    * PRE-fast-forward under the branch name; pre-evolve snapshots stop the
    * history walk (one Iceberg schema-id per exported schema is the
    * honest cut — an older schema would need its own, and external
    * readers would resolve columns against the wrong ids).
    * Returns the metadata.json path. */
  def export(spark: SparkSession, table: GraftTable,
      history: Int = 1): String =
    graft.util.Phase.timed("ice.export")(
      exportImpl(spark, table, history))

  private def exportImpl(spark: SparkSession, table: GraftTable,
      history: Int): String = {
    // one view of each chain's log (main and every branch) for the export
    val st = table.state()
    val snap = st.latest.getOrElse(
      throw new IllegalStateException(
        s"table does not exist: ${table.location}"))
    val schema = st.schema
    val fs = new Path(table.location)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the literal path form (a space stays a space): Iceberg readers,
    // HadoopFileIO and the import open every path as a literal path
    val tableUri = fs.makeQualified(new Path(table.location)).toString
      .stripSuffix("/")
    val dir = IcebergManifests.MetaDir(fs, table.location, tableUri)
    val metaDir = dir.path
    fs.mkdirs(metaDir)

    def fileLen(p: Path): Long = fs.getFileStatus(p).getLen

    // exported snapshots: the newest `history` entries of the chain
    // sharing the current schema (PARSED StructType equality — the JSON
    // strings vary in metadata key order across commits, the structures
    // don't)
    val curSchema = DataType.fromJson(snap.schemaJson)
    val exported: Seq[graft.table.Snapshot] = st.snapshots.reverse
      .takeWhile(s => DataType.fromJson(s.schemaJson) == curSchema)
      .take(math.max(1, history)).reverse
    // Branch refs ride along (Iceberg's refs model puts branches next to
    // tags — the write-audit-publish staging the reference's external-
    // engine premise needs): each live branch whose TIP snapshot shares
    // the current schema is exported like a history entry, visible
    // pre-fast-forward under its ref name. A branch that DIVERGED from
    // main (its tip id collides with a published main snapshot — the
    // fastForward-conflict state) is skipped: its id can no longer name
    // one snapshot unambiguously, and it is unpublishable until rebased
    // anyway. A branch with no own commits resolves to its fork point.
    val mainIds = exported.map(_.snapshotId).toSet
    val branchViews: Seq[(String, TableState, Long, Long)] =
      table.branches.toSeq.sortBy(_._1).map { case (b, base) =>
        val bt = table.branch(b).state()
        (b, bt, bt.tipId.getOrElse(base), base)
      }
    // keeps the OWNING branch name: sibling branches forked from the
    // same main tip allocate colliding sequential snapshot ids, and
    // distinctBy exports only the first (name-sorted) chain — the ref
    // emission below must know whose rows the surviving snapshot holds,
    // or a sibling's ref would silently expose them under its own name
    val branchSnaps: Seq[(graft.table.Snapshot, TableState, String)] =
      branchViews.flatMap { case (b, bt, tip, _) =>
        bt.snapshots.filter(s => s.snapshotId == tip &&
            !mainIds.contains(s.snapshotId) &&
            !st.snapshots.exists(_.snapshotId == s.snapshotId) &&
            DataType.fromJson(s.schemaJson) == curSchema)
          .map(s => (s, bt, b))
      }.distinctBy(_._1.snapshotId)
    // every exported snapshot paired with the VIEW that can replay it
    // (main snapshots replay on the main chain, branch tips on theirs)
    val exportedAll: Seq[(graft.table.Snapshot, TableState)] =
      exported.map(s => (s, st)) ++ branchSnaps.map(t => (t._1, t._2))
    val liveBySnap: Map[Long, Seq[String]] = exportedAll.map {
      case (s, vt) => s.snapshotId -> vt.at(Some(s.snapshotId)).liveFiles
    }.toMap
    val allFiles: Seq[String] = liveBySnap.values.flatten.toSeq.distinct
    val mainAllFiles = exported.flatMap(s => liveBySnap(s.snapshotId)).distinct
    def unionOver[T](f: (TableState, Seq[String]) => Map[String, T])
        : Map[String, T] =
      f(st, mainAllFiles) ++ branchSnaps.flatMap { case (s, bt, _) =>
        f(bt, liveBySnap(s.snapshotId))
      }
    val rows = unionOver((t, fl) => t.rowsFor(fl))
    val bytes = unionOver((t, fl) => t.bytesFor(fl))

    // Partition spec: identity columns (their bytes live in the DIR
    // layout, so tuples are REQUIRED to reconstruct them) and the
    // hidden transforms, all faithfully representable (day/month/
    // truncate/bucket — source columns stay in the data files, tuples
    // restore dir pruning for external planners; bucket hashes with the
    // Iceberg Appendix-B murmur3 function, so the exported spec is
    // truthful).
    val exportableSpec: Seq[graft.table.PartitionField] =
      if (st.partitionFields.forall(f =>
        icebergTransform(f.transform).isDefined)) st.partitionFields
      else Seq.empty
    // Spec evolution fallback: a live file written under an EARLIER spec
    // (empty→days, trunc4→trunc8, …) has no dir for the current spec's
    // physName. Emitting a null tuple would make external planners
    // mis-prune it, so the whole export falls back to unpartitioned —
    // the same conservative stance the internal pruning sites take for
    // spec-evolved files. Source columns stay in the data, so results
    // are unchanged; only dir pruning is lost. The check spans EVERY
    // exported snapshot's files — one spec covers the whole export.
    val specFields: Seq[graft.table.PartitionField] =
      if (exportableSpec.nonEmpty && allFiles.forall { rel =>
        val kv = table.partitionValues(rel)
        exportableSpec.forall(f => kv.contains(f.physName))
      }) exportableSpec
      else Seq.empty
    val avroPartFields = specFields.map { f =>
      val srcType = schema(f.source).dataType
      f.physName -> (f.transform match {
        case graft.table.PartTransform.Years |
             graft.table.PartTransform.Days |
             graft.table.PartTransform.Months |
             graft.table.PartTransform.Hours |
             graft.table.PartTransform.Bucket(_) => "int"
        case _ => IcebergManifests.partitionAvroType(srcType)
      })
    }
    val entrySchema = IcebergManifests.entrySchema(avroPartFields)
    val stats = unionOver((t, fl) => t.statsFor(fl))
    val (sJson, lastColId) = schemaJsonWithLast(schema)
    val specFieldsJson = specFields.zipWithIndex.map { case (f, i) =>
      s"""{"name": ${jsonStr(f.physName)}, "transform": "${icebergTransform(f.transform).get}", "source-id": ${fieldId(schema, schema.fieldIndex(f.source))}, "field-id": ${1000 + i}}"""
    }.mkString("[", ", ", "]")
    // Delete files carry only their key columns; they are written under
    // an UNPARTITIONED spec (spec-id 1 when the data spec has fields),
    // which per spec applies them globally — matching graft tombstones,
    // whose keys are not partition-bounded. equality_ids map the key
    // column names to schema field ids (ordinal + 1, as schemaJson).
    val deleteSpecId = if (specFields.isEmpty) 0 else 1
    val hadoopConf = spark.sessionState.newHadoopConf()
    // POSITION tombstones need a conversion pass: graft stores
    // table-relative target paths, the v2 spec wants the manifest's full
    // data-file URIs plus the reserved field ids (2147483546 file_path,
    // 2147483545 pos). Converted files land under metadata/ next to the
    // manifests that reference them; the graft-side tombstone stays the
    // engine's source of truth.
    def convertPositionFile(d: graft.table.DeleteFile): (String, Long) = {
      import org.apache.spark.sql.functions.{col, concat, lit}
      import org.apache.spark.sql.types.{Metadata => SqlMetadata}
      val name = s"pos-del-${UUID.randomUUID()}.parquet"
      def idMeta(id: Long) = SqlMetadata.fromJson(
        s"""{"parquet.field.id": $id}""")
      val conv = table.tombstoneScan(st, Seq(d))
        .select(
          concat(lit(s"$tableUri/"), col("file_path"))
            .as("file_path", idMeta(2147483546L)),
          col("pos").as("pos", idMeta(2147483545L)))
      val tmp = new Path(metaDir, s".tmp-pos-${UUID.randomUUID()}")
      conv.coalesce(1).write.parquet(tmp.toString)
      graft.table.Staging.moveStaged(fs, tmp, new Path(table.location))(
        _ => s"metadata/$name").headOption.getOrElse(
          throw new IllegalStateException(
            s"position-delete conversion wrote no parquet under $tmp"))
    }

    /** One snapshot's manifests + manifest list; returns the snapshot's
      * metadata.json entry and its last sequence number. Sequence
      * numbers are the REAL graft add/commit sequences (identical strict
      * ordering to the v2 spec), so every exported snapshot applies its
      * deletes to exactly the data files the engine would. */
    def exportSnapshot(s: graft.table.Snapshot, vt: TableState)
        : (String, Long) = {
      val sid = s.snapshotId
      val live = liveBySnap(sid)
      val deletes = vt.at(Some(sid)).liveDeletes.sortBy(_.seq)
      val addSeqs = vt.at(Some(sid)).fileAddSeqs
      def dataSeq(rel: String): Long = addSeqs.getOrElse(rel, sid)

      // ---- data manifest ----
      // STAT LEAVES (schema-only, computed once per snapshot):
      // top-level scalars under their own field ids plus struct leaves
      // (the snapshot log keys them by dotted path) under their
      // persisted NESTED ids — the spec keys stats by leaf id, so a
      // struct-heavy export prunes externally exactly like a flat one;
      // nested-unstamped legacy schemas simply skip nested emission. A
      // dotted leaf path colliding with a LITERAL top-level column name
      // is dropped (the string-keyed stats map can't tell them apart —
      // no stats beats possibly-wrong stats).
      val statLeaves: Seq[(String, Int, DataType)] = {
        def walk(st: StructType, path: String)
            : Seq[(String, Int, DataType)] =
          st.fields.toSeq.flatMap { c =>
            graft.table.FieldIds.idOf(c) match {
              case None => Seq.empty
              case Some(id) => c.dataType match {
                case inner: StructType => walk(inner, s"$path.${c.name}")
                case t => Seq((s"$path.${c.name}", id.toInt, t))
              }
            }
          }
        val top = schema.fieldNames.toSet
        schema.fields.zipWithIndex.toSeq.flatMap { case (f, i) =>
          f.dataType match {
            case st: StructType =>
              walk(st, f.name).filterNot(l => top.contains(l._1))
            case t => Seq((f.name, fieldId(schema, i).toInt, t))
          }
        }
      }
      val entries = live.map { rel =>
        lazy val kv = table.partitionValues(rel)
        val partition = specFields.map { f =>
          val v = kv.getOrElse(f.physName,
            throw new IllegalStateException(
              s"file $rel has no partition dir for spec field ${f.physName}"))
          f.physName -> (if (v == "__HIVE_DEFAULT_PARTITION__") null
            else transformValue(f.transform, v, schema(f.source).dataType))
        }
        // per-file column bounds and null counts from the snapshot log's
        // footer stats — the min/max and IS [NOT] NULL pruning metadata
        // external scan planners read, emitted per stat leaf
        IcebergManifests.addedEntry(entrySchema, sid, dataSeq(rel),
          content = 0, s"$tableUri/$rel", "PARQUET",
          records = rows.getOrElse(rel,
            fileLen(new Path(table.location, rel))), // rows unknown → safe>0
          bytes = bytes.getOrElse(rel,
            fileLen(new Path(table.location, rel))),
          partition = partition, leaves = statLeaves,
          stats = stats.getOrElse(rel, Map.empty))
      }
      val (manifestUri, manifestLen) = IcebergManifests.writeManifest(dir,
        0, entrySchema, entries,
        Map("schema" -> sJson, "schema-id" -> "0",
          "partition-spec" -> specFieldsJson, "partition-spec-id" -> "0",
          "format-version" -> "2", "content" -> "data"))

      // ---- delete manifest (live MOR tombstones, both encodings) ----
      val deleteManifest: Option[IcebergManifests.ManifestFile] =
        if (deletes.isEmpty) None
        else {
          val delSchema = IcebergManifests.entrySchema(Seq.empty,
            equalityIds = true)
          val delEntries = deletes.map { d =>
            // position files are converted to the spec's shape first
            val (rel, len) =
              if (d.isPosition) convertPositionFile(d)
              else (d.path, table.deleteBytesOf(d))
            val nRows = graft.table.FooterStats.read(hadoopConf,
              new Path(table.location, rel), Seq.empty)._2
            IcebergManifests.addedEntry(delSchema, sid, d.seq,
              content = if (d.isPosition) 1 else 2, s"$tableUri/$rel",
              "PARQUET", nRows, len,
              fields = if (d.isPosition) Nil else Seq("equality_ids" ->
                table.deleteColsOf(d).map(c => Int.box(
                  fieldId(schema, schema.fieldIndex(c)).toInt)).asJava))
          }
          val (uri, len) = IcebergManifests.writeManifest(dir, 1,
            delSchema, delEntries,
            Map("schema" -> sJson, "schema-id" -> "0",
              "partition-spec" -> "[]",
              "partition-spec-id" -> deleteSpecId.toString,
              "format-version" -> "2", "content" -> "deletes"))
          Some(IcebergManifests.ManifestFile(uri, len, deleteSpecId,
            content = 1, seq = deletes.map(_.seq).max,
            minSeq = deletes.map(_.seq).min, addedSnapshotId = sid,
            addedFiles = deletes.size,
            addedRows = delEntries.map(IcebergManifests.recordCount).sum))
        }

      // ---- manifest list ----
      val totalRows = live.map(f => rows.getOrElse(f, 0L)).sum
      val dataSeqs = live.map(dataSeq)
      val dataManifest = IcebergManifests.ManifestFile(manifestUri,
        manifestLen, specId = 0, content = 0,
        seq = if (dataSeqs.isEmpty) 1L else dataSeqs.max,
        minSeq = if (dataSeqs.isEmpty) 1L else dataSeqs.min,
        addedSnapshotId = sid, addedFiles = live.size, addedRows = totalRows)
      val listUri = IcebergManifests.writeList(dir, sid, formatVersion = 2,
        (dataManifest +: deleteManifest.toSeq).map(
          IcebergManifests.listRecord(IcebergManifests.listSchema, _)))

      val lastSeq = (1L +: dataSeqs ++: deletes.map(_.seq)).max
      // graft op → the spec's four summary operations (Iceberg readers —
      // including our own readChanges — gate incremental scans on this):
      // data-adding commits → append; row-level changes → overwrite;
      // row removals → delete; same-rows rewrites and metadata-only
      // commits → replace
      val iceOp = s.operation match {
        case "append" | "create" => "append"
        case "delete" | "truncate" => "delete"
        case "merge" | "update" | "overwrite" | "rollback" => "overwrite"
        case _ => "replace" // compact/fold/evolve/prune-deletes/...
      }
      val parentJson = s.parentId
        .map(p => s"""\n    "parent-snapshot-id": $p,""").getOrElse("")
      // truthful total-* summary metrics (what external history views
      // surface). added-* keys are deliberately OMITTED: the export
      // synthesizes each snapshot's FULL live state as one manifest, so
      // per-commit deltas are not represented here — totals are exact,
      // a fabricated delta would not be
      val entryJson =
        s"""{
           |    "sequence-number": $lastSeq,
           |    "snapshot-id": $sid,$parentJson
           |    "timestamp-ms": ${s.timestampMs},
           |    "summary": {"operation": "$iceOp",
           |      "total-data-files": "${live.size}",
           |      "total-delete-files": "${deletes.size}",
           |      "total-records": "$totalRows"},
           |    "manifest-list": ${jsonStr(listUri)},
           |    "schema-id": 0
           |  }""".stripMargin
      (entryJson, lastSeq)
    }

    val perSnap = exportedAll.map { case (s, vt) =>
      s -> exportSnapshot(s, vt) }

    // ---- metadata.json + version hint ----
    val version = currentVersion(fs, metaDir) + 1
    val now = snap.timestampMs
    val lastSeq = perSnap.map(_._2._2).max
    val specsJson = s"""[{"spec-id": 0, "fields": $specFieldsJson}""" +
      (if (exportedAll.exists { case (s, vt) =>
          vt.at(Some(s.snapshotId)).liveDeletes.nonEmpty } &&
          specFields.nonEmpty)
        """, {"spec-id": 1, "fields": []}]""" else "]")
    val snapshotsJson = perSnap.map(_._2._1).mkString("[", ", ", "]")
    // snapshot-log is MAIN lineage only (the Iceberg main-branch history
    // list); branch tips are reachable through their refs, not the log
    val snapshotLogJson = exported.map { s =>
      s"""{"timestamp-ms": ${s.timestampMs}, "snapshot-id": ${s.snapshotId}}"""
    }.mkString("[", ", ", "]")
    // refs: main + every tag resolving to an exported snapshot (tags on
    // unexported snapshots are omitted — a ref must point at a readable
    // snapshot entry) + every live branch whose tip made the export
    // (own-commit tip, or the fork point for an empty branch)
    val allExportedIds = exportedAll.map(_._1.snapshotId).toSet
    // a branch ref may only point at a snapshot that genuinely IS the
    // branch's state: either its own exported tip (branchSnaps — which
    // excludes diverged tips whose id collides with a published main
    // snapshot), or its fork point when it has NO own commits. The id
    // being exported is NOT sufficient — a diverged branch's tip id
    // names MAIN's colliding snapshot, and a ref would silently expose
    // main's rows under the staged-branch name.
    // ... and a tip id being exported is STILL not sufficient when two
    // sibling branches forked from the same main tip allocated the same
    // sequential id: the exported snapshot replays exactly ONE chain
    // (distinctBy kept the first name-sorted branch), so only that
    // OWNING branch gets a ref — a sibling's ref would resolve to the
    // owner's staged rows under the sibling's name.
    val branchOwner: Map[Long, String] =
      branchSnaps.map(t => t._1.snapshotId -> t._3).toMap
    val branchRefs = branchViews.collect {
      case (b, _, tip, base) if branchOwner.get(tip).contains(b) ||
          (tip == base && mainIds.contains(tip)) =>
        s"""${jsonStr(b)}: {"snapshot-id": $tip, "type": "branch"}"""
    }
    // a branch that got NO ref (diverged-tip id collision, or a sibling
    // losing the one-owner-per-snapshot-id rule) is absent from the
    // export — safer than exposing another chain's rows under its name,
    // but a silent partial export would surprise consumers: warn loud,
    // same pattern as the CDC-materialization failure path
    branchViews.foreach { case (b, _, tip, base) =>
      val hasRef = branchOwner.get(tip).contains(b) ||
        (tip == base && mainIds.contains(tip))
      if (!hasRef)
        System.err.println(
          s"graft: iceberg export of ${table.location} DROPPED branch '$b' " +
            s"(tip $tip collides with a snapshot id owned by " +
            s"${branchOwner.get(tip).map(o => s"branch '$o'")
              .getOrElse("the main chain")}); the branch has no ref and " +
            "no rows in the export — re-export after the branch is " +
            "merged or fast-forwarded, or rename the colliding branch")
    }
    val refsJson = (Seq(
      s""""main": {"snapshot-id": ${snap.snapshotId}, "type": "branch"}""") ++
      st.refs.toSeq.sortBy(_._1).collect {
        case (n, id) if allExportedIds.contains(id) && n != "main" =>
          s"""${jsonStr(n)}: {"snapshot-id": $id, "type": "tag"}"""
      } ++ branchRefs).mkString("{", ", ", "}")
    val metaJson =
      s"""{
         |  "format-version": 2,
         |  "table-uuid": "${UUID.nameUUIDFromBytes(
               tableUri.getBytes(StandardCharsets.UTF_8))}",
         |  "location": ${jsonStr(tableUri)},
         |  "last-sequence-number": $lastSeq,
         |  "last-updated-ms": $now,
         |  "last-column-id": $lastColId,
         |  "current-schema-id": 0,
         |  "schemas": [$sJson],
         |  "default-spec-id": 0,
         |  "partition-specs": $specsJson,
         |  "last-partition-id": ${999 + specFields.size},
         |  "default-sort-order-id": 0,
         |  "sort-orders": [{"order-id": 0, "fields": []}],
         |  "properties": {},
         |  "current-snapshot-id": ${snap.snapshotId},
         |  "refs": $refsJson,
         |  "snapshots": $snapshotsJson,
         |  "snapshot-log": $snapshotLogJson,
         |  "metadata-log": []
         |}""".stripMargin
    val metaFile = new Path(metaDir, s"v$version.metadata.json")
    val out = fs.create(metaFile, true)
    try out.write(metaJson.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val hint = fs.create(new Path(metaDir, "version-hint.text"), true)
    try hint.write(version.toString.getBytes(StandardCharsets.UTF_8))
    finally hint.close()
    metaFile.toString
  }

  private def currentVersion(fs: org.apache.hadoop.fs.FileSystem,
      metaDir: Path): Int = {
    val hint = new Path(metaDir, "version-hint.text")
    if (!fs.exists(hint)) 0
    else {
      val in = fs.open(hint)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8).trim.toInt
      finally in.close()
    }
  }

  /** Read a table back THROUGH its exported Iceberg metadata — resolve
    * `version-hint.text` → `v<N>.metadata.json` → current snapshot →
    * manifest list (Avro) → manifest(s) (Avro) → data file paths, then
    * scan those parquet files. This is an independent walk of the
    * Iceberg metadata tree (the reader an external engine would run);
    * it shares no code or state with the graft snapshot log. */
  /** @param at optional time travel over the exported history: a ref
    *   name from metadata.json's `refs` (tag or "main") or a snapshot id
    *   rendered as digits — the external-engine `VERSION AS OF` walk. */
  def scan(spark: SparkSession, tableLocation: String,
      at: Option[String] = None): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val fs = new Path(tableLocation)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val metaDir = new Path(tableLocation, "metadata")
    val version = currentVersion(fs, metaDir)
    require(version > 0, s"no iceberg export at $tableLocation")
    val in = fs.open(new Path(metaDir, s"v$version.metadata.json"))
    val metaJson =
      try new String(org.apache.commons.io.IOUtils.toByteArray(in),
        StandardCharsets.UTF_8)
      finally in.close()
    val meta = JsonMethods.parse(metaJson)
    implicit val fmts: Formats = DefaultFormats
    val currentId = (meta \ "current-snapshot-id").extract[Long]
    val targetId = at match {
      case None => currentId
      case Some(a) =>
        (meta \ "refs" \ a) match {
          case JNothing =>
            require(a.forall(_.isDigit),
              s"no ref '$a' in the exported metadata")
            a.toLong
          case ref => (ref \ "snapshot-id").extract[Long]
        }
    }
    val listPath = (meta \ "snapshots").children.collectFirst {
      case s if (s \ "snapshot-id").extract[Long] == targetId =>
        (s \ "manifest-list").extract[String]
    }.getOrElse(throw new IllegalStateException(
      s"snapshot $targetId not in the exported history"))

    def readAvro(uri: String): Seq[GenericRecord] = {
      val f = new File(new Path(uri).toUri.getPath)
      val r = new DataFileReader[GenericRecord](f,
        new GenericDatumReader[GenericRecord]())
      try r.iterator().asScala.toList finally r.close()
    }
    // table schema (for column order + partition column types) and the
    // identity partition spec (for which columns to reconstruct)
    val schemaFields = (meta \ "schemas").children.collectFirst {
      case s if (s \ "schema-id").extract[Int] == 0 =>
        (s \ "fields").children.map(f =>
          (f \ "name").extract[String] -> (f \ "type").extract[String])
    }.getOrElse(Seq.empty)
    val specCols = (meta \ "partition-specs").children.headOption.toSeq
      .flatMap(s => (s \ "fields").children)
      .filter(f => (f \ "transform").extract[String] == "identity")
      .map(f => (f \ "name").extract[String])
    def sparkType(t: String): DataType = t match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "string" => StringType
      case "binary" => BinaryType
      case "date" => DateType
      case "timestamptz" => TimestampType
      case "timestamp" => TimestampNTZType
      case d if d.startsWith("decimal") =>
        val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        DecimalType(p, s)
      case other => throw new IllegalArgumentException(other)
    }

    val mfs = readAvro(listPath)
    def mfContent(mf: GenericRecord): Int =
      mf.get("content").asInstanceOf[Int]
    def entriesOf(mf: GenericRecord): Seq[GenericRecord] =
      readAvro(mf.get("manifest_path").toString)
        .filter(_.get("status").asInstanceOf[Int] != 2) // not DELETED
    def seqOf(e: GenericRecord): Long =
      Option(e.get("sequence_number")).map(_.asInstanceOf[Long])
        .getOrElse(1L)

    // (file, identity-partition tuple, data sequence) per live data entry
    val filesWithPart: Seq[(String, Seq[Any], Long)] =
      mfs.filter(mfContent(_) == 0).flatMap { mf =>
        entriesOf(mf).map { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val part = df.get("partition").asInstanceOf[GenericRecord]
          val tuple = specCols.map(c => part.get(c) match {
            case u: org.apache.avro.util.Utf8 => u.toString
            case v => v
          })
          (df.get("file_path").toString, tuple, seqOf(e))
        }
      }
    // v2 equality deletes: (path, commit sequence, key column names via
    // the schema field ids in equality_ids)
    val fieldNameById: Map[Int, String] =
      (meta \ "schemas").children.collectFirst {
        case s if (s \ "schema-id").extract[Int] == 0 =>
          (s \ "fields").children.map(f =>
            (f \ "id").extract[Int] -> (f \ "name").extract[String]).toMap
      }.getOrElse(Map.empty)
    val deleteEntries: Seq[(GenericRecord, Long)] =
      mfs.filter(mfContent(_) == 1).flatMap(mf => entriesOf(mf).map(e =>
        (e.get("data_file").asInstanceOf[GenericRecord], seqOf(e))))
    val eqDeletes: Seq[(String, Long, Seq[String])] = deleteEntries
      .filter(_._1.get("content").asInstanceOf[Int] == 2)
      .map { case (df, seq) =>
        val ids = df.get("equality_ids")
          .asInstanceOf[java.util.List[Integer]].asScala.toSeq
        (df.get("file_path").toString, seq,
          ids.map(i => fieldNameById(i.toInt)))
      }.sortBy(_._2)
    // v2 position deletes (content=1): rows of (file_path, pos); apply
    // to data files at sequence <= the delete's
    val posDeletes: Seq[(String, Long)] = deleteEntries
      .filter(_._1.get("content").asInstanceOf[Int] == 1)
      .map { case (df, seq) => (df.get("file_path").toString, seq) }
      .sortBy(_._2)

    val typeOf = schemaFields.toMap
    // one scan per (partition tuple × applicable-delete suffix) — a
    // delete applies to data files whose sequence is strictly lower, so
    // the applicable set per file is a suffix of the seq-sorted deletes
    // (at most |deletes|+1 groups per tuple). Each group reconstructs
    // identity columns, then anti-joins each equality-key delete set —
    // an independent re-derivation of the v2 read rules, sharing nothing
    // with the graft MOR reader.
    val UriCol = "__ice_scan_uri__"
    val PosCol = "__ice_scan_pos__"
    // manifest URI -> the URI the Spark scan will report for that file
    def scanUri(manifestUri: String): String =
      fs.makeQualified(new Path(manifestUri)).toString
    filesWithPart.groupBy { case (_, tuple, seq) =>
      (tuple, eqDeletes.filter(_._2 > seq), posDeletes.filter(_._2 >= seq))
    }.map { case ((tuple, dels, posDels), grp) =>
      val base0 = spark.read.parquet(grp.map(f =>
        new Path(f._1).toUri.getPath): _*)
      val base =
        if (posDels.isEmpty) base0
        else base0.select(col("*"),
          col("_metadata.file_path").as(UriCol),
          col("_metadata.row_index").as(PosCol))
      val withPart = specCols.zip(tuple).foldLeft(base) {
        case (acc, (c, v)) =>
          acc.withColumn(c, lit(v).cast(sparkType(typeOf(c))))
      }
      val undeleted = dels.groupBy(_._3).foldLeft(withPart) {
        case (acc, (cols, ds)) =>
          val keys = spark.read.parquet(ds.map(d =>
            new Path(d._1).toUri.getPath): _*).select(cols.map(col): _*)
          acc.join(keys, cols, "left_anti")
      }
      val afterPos =
        if (posDels.isEmpty) undeleted
        else {
          val lookup = spark.createDataFrame(
            grp.map(f => (f._1, scanUri(f._1))))
            .toDF("__ice_manifest_uri__", UriCol)
          val posKeys = spark.read.parquet(posDels.map(d =>
            new Path(d._1).toUri.getPath): _*)
            .join(broadcast(lookup),
              col("file_path") === col("__ice_manifest_uri__"))
            .select(col(UriCol), col("pos").as(PosCol))
          undeleted.join(broadcast(posKeys),
            Seq(UriCol, PosCol), "left_anti")
        }
      afterPos.select(schemaFields.map(f => col(f._1)): _*)
    }.reduce(_ unionByName _)
  }
}
