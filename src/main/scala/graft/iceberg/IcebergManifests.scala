package graft.iceberg

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.commons.io.output.CloseShieldOutputStream
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.types._

import graft.table.ColStat

/** The Iceberg manifest format (table spec §Manifests), written by both
  * [[IcebergExport]] and [[IcebergWriteBack]]: the manifest-entry and
  * manifest-list Avro schemas, the records they hold, and the write of
  * manifests and manifest lists through the table's Hadoop FileSystem.
  *
  * [[ForeignFixtures]] and [[IcebergExport.scan]] stay independent of
  * this module: they are the test references these writers are read
  * against. */
private[iceberg] object IcebergManifests {

  /** Avro schema for the v2 manifest-list entry (spec field ids 500+). */
  val listSchema: Schema = new Schema.Parser().parse(
    """{
      |"type": "record", "name": "manifest_file", "fields": [
      | {"name": "manifest_path", "type": "string", "field-id": 500},
      | {"name": "manifest_length", "type": "long", "field-id": 501},
      | {"name": "partition_spec_id", "type": "int", "field-id": 502},
      | {"name": "content", "type": "int", "field-id": 517},
      | {"name": "sequence_number", "type": "long", "field-id": 515},
      | {"name": "min_sequence_number", "type": "long", "field-id": 516},
      | {"name": "added_snapshot_id", "type": "long", "field-id": 503},
      | {"name": "added_data_files_count", "type": "int", "field-id": 504},
      | {"name": "existing_data_files_count", "type": "int", "field-id": 505},
      | {"name": "deleted_data_files_count", "type": "int", "field-id": 506},
      | {"name": "added_rows_count", "type": "long", "field-id": 512},
      | {"name": "existing_rows_count", "type": "long", "field-id": 513},
      | {"name": "deleted_rows_count", "type": "long", "field-id": 514},
      | {"name": "partitions", "type": ["null", {"type": "array", "items": {
      |   "type": "record", "name": "r508", "fields": [
      |     {"name": "contains_null", "type": "boolean", "field-id": 509},
      |     {"name": "contains_nan", "type": ["null", "boolean"], "default": null, "field-id": 518},
      |     {"name": "lower_bound", "type": ["null", "bytes"], "default": null, "field-id": 510},
      |     {"name": "upper_bound", "type": ["null", "bytes"], "default": null, "field-id": 511}
      |   ]}, "element-id": 508}], "default": null, "field-id": 507},
      | {"name": "key_metadata", "type": ["null", "bytes"], "default": null, "field-id": 519}
      |]}""".stripMargin)

  /** The v3 manifest-list entry: v2 plus `first_row_id` (spec field 520)
    * — the starting row id assigned to a DATA manifest for row lineage
    * (null on delete manifests and on pre-lineage carried manifests). */
  val listSchemaV3: Schema = new Schema.Parser()
    .parse(listSchema.toString(false).replace(
      """{"name":"key_metadata""",
      """{"name":"first_row_id","type":["null","long"],""" +
        """"default":null,"field-id":520},{"name":"key_metadata"""))

  /** The manifest-list schema for a table format version. */
  def listSchemaFor(formatVersion: Int): Schema =
    if (formatVersion >= 3) listSchemaV3 else listSchema

  /** Avro type string for an identity-partition value (the r102 struct
    * field). Kept to types whose partition-dir strings parse back
    * unambiguously; date/timestamp identity partitioning is better
    * served by the hidden transforms anyway. */
  def partitionAvroType(dt: DataType): String = dt match {
    case StringType => "string"
    case LongType => "long"
    case IntegerType | ShortType | ByteType => "int"
    case BooleanType => "boolean"
    case DoubleType => "double"
    case FloatType => "float"
    case other => throw new IllegalArgumentException(
      s"iceberg export does not support identity partitioning on $other " +
        "(use a hidden transform, or an unpartitioned layout)")
  }

  /** Parse a partition-dir value string back to the typed Avro value. */
  def partitionValue(s: String, dt: DataType): Any =
    if (s == "__HIVE_DEFAULT_PARTITION__") null
    else dt match {
      case StringType => s
      case LongType => s.toLong
      case IntegerType | ShortType | ByteType => s.toInt
      case BooleanType => s.toBoolean
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case other => throw new IllegalArgumentException(other.toString)
    }

  /** Avro schema for a v2 manifest entry (spec entry ids 0-4, data_file
    * ids 100-140). The r102 partition struct carries one field per
    * exported partition-spec field (ids 1000+), empty when the export is
    * unpartitioned. `lower_bounds`/`upper_bounds` are the spec's
    * map<int, binary> stats (ids 125-130, Avro array-of-record map
    * encoding) keyed by schema field id — the pruning metadata external
    * engines' scan planners read. */
  def entrySchema(
      partFields: Seq[(String, String)],
      equalityIds: Boolean = false,
      v3: Boolean = false): Schema = {
    val pf = partFields.zipWithIndex.map { case ((n, avroType), i) =>
      s"""{"name": ${IcebergExport.jsonStr(n)}, "type": ["null", "$avroType"], "default": null, "field-id": ${1000 + i}}"""
    }.mkString(", ")
    def boundsMap(name: String, fid: Int, kid: Int, vid: Int): String =
      s"""{"name": "$name", "type": ["null", {"type": "array", "logicalType": "map",
         |   "items": {"type": "record", "name": "k${kid}_v$vid", "fields": [
         |     {"name": "key", "type": "int", "field-id": $kid},
         |     {"name": "value", "type": "bytes", "field-id": $vid}
         |   ]}}], "default": null, "field-id": $fid}""".stripMargin
    // null_value_counts (field 110): map<int, long> keyed by schema field
    // id — the stats behind IS [NOT] NULL file pruning in scan planners
    def longMap(name: String, fid: Int, kid: Int, vid: Int): String =
      s"""{"name": "$name", "type": ["null", {"type": "array", "logicalType": "map",
         |   "items": {"type": "record", "name": "k${kid}_v$vid", "fields": [
         |     {"name": "key", "type": "int", "field-id": $kid},
         |     {"name": "value", "type": "long", "field-id": $vid}
         |   ]}}], "default": null, "field-id": $fid}""".stripMargin
    // equality_ids (field 135): the schema field ids a v2 equality-delete
    // file deletes by — present only in delete manifests
    val eq = if (equalityIds)
      """,
        |     {"name": "equality_ids", "type": ["null", {"type": "array", "items": "int", "element-id": 136}], "default": null, "field-id": 135}""".stripMargin
    else ""
    // v3 (table-spec v3) data_file additions: row lineage's
    // first_row_id (142, null on write — readers inherit from the
    // manifest) and the deletion-vector coordinates (143-145) a PUFFIN
    // delete entry carries instead of being a standalone delete file
    val v3f = if (v3)
      """,
        |     {"name": "first_row_id", "type": ["null", "long"], "default": null, "field-id": 142},
        |     {"name": "referenced_data_file", "type": ["null", "string"], "default": null, "field-id": 143},
        |     {"name": "content_offset", "type": ["null", "long"], "default": null, "field-id": 144},
        |     {"name": "content_size_in_bytes", "type": ["null", "long"], "default": null, "field-id": 145}""".stripMargin
    else ""
    new Schema.Parser().parse(
      s"""{
        |"type": "record", "name": "manifest_entry", "fields": [
        | {"name": "status", "type": "int", "field-id": 0},
        | {"name": "snapshot_id", "type": ["null", "long"], "default": null, "field-id": 1},
        | {"name": "sequence_number", "type": ["null", "long"], "default": null, "field-id": 3},
        | {"name": "file_sequence_number", "type": ["null", "long"], "default": null, "field-id": 4},
        | {"name": "data_file", "field-id": 2, "type": {
        |   "type": "record", "name": "r2", "fields": [
        |     {"name": "content", "type": "int", "field-id": 134},
        |     {"name": "file_path", "type": "string", "field-id": 100},
        |     {"name": "file_format", "type": "string", "field-id": 101},
        |     {"name": "partition", "type": {"type": "record", "name": "r102", "fields": [$pf]}, "field-id": 102},
        |     {"name": "record_count", "type": "long", "field-id": 103},
        |     {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
        |     ${boundsMap("lower_bounds", 125, 126, 127)},
        |     ${boundsMap("upper_bounds", 128, 129, 130)},
        |     ${longMap("null_value_counts", 110, 121, 122)},
        |     {"name": "split_offsets", "type": ["null", {"type": "array", "items": "long", "element-id": 133}], "default": null, "field-id": 132},
        |     {"name": "sort_order_id", "type": ["null", "int"], "default": null, "field-id": 140}$eq$v3f
        |   ]}}
        |]}""".stripMargin)
  }

  /** Iceberg single-value binary serialization (Appendix D of the table
    * spec) for a bound value given in Spark-INTERNAL form: little-endian
    * fixed width for numerics/temporals, UTF-8 for strings, minimal
    * big-endian two's-complement for decimal unscaled values. Returns
    * None for types the spec stores differently than we can guarantee
    * (the bound is then simply omitted — bounds are optional per spec). */
  def boundBytes(v: Any, dt: DataType): Option[Array[Byte]] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le(n: Int): ByteBuffer =
      ByteBuffer.allocate(n).order(ByteOrder.LITTLE_ENDIAN)
    Option(v).flatMap { v =>
      dt match {
        case IntegerType | DateType =>
          Some(le(4).putInt(v.asInstanceOf[Int]).array())
        case ShortType => Some(le(4).putInt(v.asInstanceOf[Short].toInt).array())
        case ByteType => Some(le(4).putInt(v.asInstanceOf[Byte].toInt).array())
        case LongType | TimestampType | TimestampNTZType =>
          Some(le(8).putLong(v.asInstanceOf[Long]).array())
        case FloatType => Some(le(4).putFloat(v.asInstanceOf[Float]).array())
        case DoubleType => Some(le(8).putDouble(v.asInstanceOf[Double]).array())
        case BooleanType =>
          Some(Array[Byte](if (v.asInstanceOf[Boolean]) 1 else 0))
        case StringType => Some(v.toString.getBytes(StandardCharsets.UTF_8))
        case _: DecimalType => Some(v.asInstanceOf[org.apache.spark.sql.types
          .Decimal].toJavaBigDecimal.unscaledValue.toByteArray)
        case _ => None
      }
    }
  }

  /** A table's metadata directory: files land in `<location>/metadata/`
    * on `fs`, and metadata names them `<tableUri>/metadata/<name>`. */
  final case class MetaDir(fs: FileSystem, location: String,
      tableUri: String) {
    val path: Path = new Path(location, "metadata")
    def uri(name: String): String = s"$tableUri/metadata/$name"
  }

  /** Write `records` as the Avro container `metadata/<name>` through the
    * table's FileSystem (never overwriting — every name is fresh).
    * Returns the file's length, counted from the bytes written. */
  def write(dir: MetaDir, name: String, schema: Schema,
      records: Seq[GenericRecord], meta: Map[String, String]): Long =
    graft.util.Phase.timed("ice.manifest.write") {
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](schema))
      meta.foreach { case (k, v) =>
        w.setMeta(k, v.getBytes(StandardCharsets.UTF_8)) }
      val out = dir.fs.create(new Path(dir.path, name), false)
      try {
        // the writer closes only the shield; `out` is closed once, below
        w.create(schema, CloseShieldOutputStream.wrap(out))
        try records.foreach(w.append) finally w.close()
      } finally out.close()
      out.getPos
    }

  /** Write a manifest named `<uuid>-m<content>.avro`; returns its URI in
    * metadata and its length. */
  def writeManifest(dir: MetaDir, content: Int, schema: Schema,
      records: Seq[GenericRecord], meta: Map[String, String])
      : (String, Long) = {
    val name = s"${UUID.randomUUID()}-m$content.avro"
    (dir.uri(name), write(dir, name, schema, records, meta))
  }

  /** Write snapshot `snapshotId`'s manifest list; returns its URI. */
  def writeList(dir: MetaDir, snapshotId: Long, formatVersion: Int,
      records: Seq[GenericRecord]): String = {
    val name = s"snap-$snapshotId-1-${UUID.randomUUID()}.avro"
    write(dir, name, listSchemaFor(formatVersion), records,
      Map("format-version" -> formatVersion.toString))
    dir.uri(name)
  }

  /** One manifest-list record (`manifest_file`). Partition summaries
    * and key metadata are never written — readers then read the
    * manifest instead of skipping it. */
  final case class ManifestFile(path: String, length: Long, specId: Int,
      content: Int, seq: Long, minSeq: Long, addedSnapshotId: Long,
      addedFiles: Int = 0, existingFiles: Int = 0, deletedFiles: Int = 0,
      addedRows: Long = 0L, existingRows: Long = 0L, deletedRows: Long = 0L,
      firstRowId: Option[Long] = None)

  /** Read a list record of any writer's schema. Fields the record's
    * schema lacks take the spec's defaults (0 for counts, sequence
    * numbers and content; no first_row_id); a missing
    * `added_snapshot_id` is `inheritSnapshot`. */
  def readList(r: GenericRecord, inheritSnapshot: Long): ManifestFile = {
    def g(n: String): Option[AnyRef] =
      Option(r.getSchema.getField(n)).flatMap(_ => Option(r.get(n)))
    def l(n: String, d: Long = 0L): Long =
      g(n).fold(d)(_.asInstanceOf[Number].longValue)
    def i(n: String): Int = g(n).fold(0)(_.asInstanceOf[Number].intValue)
    ManifestFile(
      path = g("manifest_path").map(_.toString).getOrElse(
        throw new IllegalStateException(
          "manifest list record lacks manifest_path")),
      length = l("manifest_length"), specId = i("partition_spec_id"),
      content = i("content"), seq = l("sequence_number"),
      minSeq = l("min_sequence_number"),
      addedSnapshotId = l("added_snapshot_id", inheritSnapshot),
      addedFiles = i("added_data_files_count"),
      existingFiles = i("existing_data_files_count"),
      deletedFiles = i("deleted_data_files_count"),
      addedRows = l("added_rows_count"),
      existingRows = l("existing_rows_count"),
      deletedRows = l("deleted_rows_count"),
      firstRowId = g("first_row_id").map(_.asInstanceOf[Number].longValue))
  }

  /** `m` as a record of `schema` ([[listSchema]] or [[listSchemaV3]];
    * `first_row_id` is written only under the latter). */
  def listRecord(schema: Schema, m: ManifestFile): GenericData.Record = {
    val r = new GenericData.Record(schema)
    r.put("manifest_path", m.path)
    r.put("manifest_length", m.length)
    r.put("partition_spec_id", m.specId)
    r.put("content", m.content)
    r.put("sequence_number", m.seq)
    r.put("min_sequence_number", m.minSeq)
    r.put("added_snapshot_id", m.addedSnapshotId)
    r.put("added_data_files_count", m.addedFiles)
    r.put("existing_data_files_count", m.existingFiles)
    r.put("deleted_data_files_count", m.deletedFiles)
    r.put("added_rows_count", m.addedRows)
    r.put("existing_rows_count", m.existingRows)
    r.put("deleted_rows_count", m.deletedRows)
    if (schema.getField("first_row_id") != null)
      r.put("first_row_id", m.firstRowId.map(Long.box).orNull)
    r
  }

  /** A stat leaf: the column's key in the snapshot log's footer stats,
    * its Iceberg field id and its Spark type. */
  type StatLeaf = (String, Int, DataType)

  /** An ADDED manifest entry of `schema` ([[entrySchema]]): `status`,
    * `snapshot_id`, both sequence numbers and the `data_file` header.
    * `partition` fills the r102 tuple by field name; each of `leaves`
    * with stats in `stats` contributes its lower/upper bounds (ids 125
    * and 128, Appendix-D bytes) and null count (id 110) — columns
    * without safe stats are simply absent; `fields` sets further
    * `data_file` fields (equality ids, deletion-vector coordinates). */
  def addedEntry(schema: Schema, snapshotId: Long, seq: Long,
      content: Int, path: String, format: String, records: Long,
      bytes: Long, partition: Seq[(String, Any)] = Nil,
      leaves: Seq[StatLeaf] = Nil, stats: Map[String, ColStat] = Map.empty,
      fields: Seq[(String, AnyRef)] = Nil): GenericRecord = {
    val e = new GenericData.Record(schema)
    e.put("status", 1) // ADDED
    e.put("snapshot_id", snapshotId)
    e.put("sequence_number", seq)
    e.put("file_sequence_number", seq)
    val dfSchema = schema.getField("data_file").schema()
    val df = new GenericData.Record(dfSchema)
    df.put("content", content) // 0 DATA / 1 POSITION / 2 EQUALITY
    df.put("file_path", path)
    df.put("file_format", format)
    val part = new GenericData.Record(dfSchema.getField("partition").schema())
    partition.foreach { case (n, v) => part.put(n, v) }
    df.put("partition", part)
    df.put("record_count", records)
    df.put("file_size_in_bytes", bytes)
    val glue = org.apache.spark.sql.graftglue.GraftSqlGlue
    def statMap(name: String)(value: (ColStat, DataType) => Option[AnyRef])
        : Unit = {
      val item = dfSchema.getField(name).schema().getTypes.get(1)
        .getElementType
      val recs = leaves.flatMap { case (leaf, id, dt) =>
        stats.get(leaf).flatMap(value(_, dt)).map { v =>
          val r = new GenericData.Record(item)
          r.put("key", id)
          r.put("value", v)
          r: GenericRecord
        }
      }
      if (recs.nonEmpty) df.put(name, recs.asJava)
    }
    def bound(s: Option[String], dt: DataType): Option[AnyRef] =
      s.flatMap(v => boundBytes(glue.castFromString(v, dt), dt))
        .map(java.nio.ByteBuffer.wrap)
    statMap("lower_bounds")((s, dt) => bound(s.min, dt))
    statMap("upper_bounds")((s, dt) => bound(s.max, dt))
    statMap("null_value_counts")((s, _) => s.nulls.map(Long.box))
    fields.foreach { case (n, v) => df.put(n, v) }
    e.put("data_file", df)
    e
  }

  /** Make every entry of manifest `m` independent of its list record,
    * in place: a null sequence number or snapshot id takes the list
    * record's (the spec's inheritance), and on v3 a data entry's null
    * `first_row_id` takes the manifest's running row-id cursor, which
    * advances by that entry's record count over the entries in order
    * — the read side's inheritance rule. A rewritten manifest's list
    * record is a new inheritance context, so nothing may inherit. */
  def makeExplicit(m: ManifestFile, entries: Seq[GenericRecord],
      v3: Boolean): Unit = {
    var rowIdCursor = if (m.content == 0) m.firstRowId else None
    entries.foreach { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      if (v3 && df.getSchema.getField("first_row_id") != null &&
          df.get("first_row_id") == null)
        rowIdCursor.foreach { c =>
          df.put("first_row_id", c)
          rowIdCursor = Some(c + recordCount(e))
        }
      def explicit(n: String, v: Long): Unit =
        if (e.getSchema.getField(n) != null && e.get(n) == null) e.put(n, v)
      explicit("sequence_number", m.seq)
      explicit("file_sequence_number", m.seq)
      explicit("snapshot_id", m.addedSnapshotId)
    }
  }

  def status(e: GenericRecord): Int =
    e.get("status").asInstanceOf[Number].intValue

  def recordCount(e: GenericRecord): Long =
    Option(e.get("data_file").asInstanceOf[GenericRecord]
      .get("record_count")).fold(0L)(_.asInstanceOf[Number].longValue)

  def seqOf(e: GenericRecord): Long =
    e.get("sequence_number").asInstanceOf[Number].longValue

  /** Rewrite manifest `m` (its `entries` and container `fileMeta`, both
    * kept in the source writer's schema so a foreign writer's stats
    * fields survive) for snapshot `snapshotId`: inherited fields become
    * explicit ([[makeExplicit]]); live entries matching `dead` flip to
    * DELETED stamped with `snapshotId` (the spec: a DELETED entry's
    * snapshot is the one that deleted the file); other live entries
    * become EXISTING; already-DELETED entries stay. Returns the
    * replacement's list record, with the kept and removed file and row
    * counts and the original `first_row_id`. */
  def rewrite(dir: MetaDir, listSchema: Schema, m: ManifestFile,
      entries: Seq[GenericRecord], fileMeta: Map[String, String],
      snapshotId: Long, v3: Boolean)(dead: GenericRecord => Boolean)
      : GenericRecord = {
    makeExplicit(m, entries, v3)
    var (kept, removed, keptRows, removedRows) = (0, 0, 0L, 0L)
    var minSeq = Long.MaxValue
    entries.foreach { e =>
      if (status(e) != 2 && dead(e)) {
        e.put("status", 2) // DELETED by this commit
        e.put("snapshot_id", snapshotId)
        removed += 1; removedRows += recordCount(e)
      } else if (status(e) != 2) {
        e.put("status", 0) // EXISTING
        kept += 1; keptRows += recordCount(e)
        minSeq = math.min(minSeq, seqOf(e))
      }
    }
    val (uri, len) = writeManifest(dir, m.content, entries.head.getSchema,
      entries, fileMeta)
    // the replacement keeps the original first_row_id: its entries are
    // explicit now, but a reader that still walks the manifest-level
    // value must see the unchanged one
    listRecord(listSchema, m.copy(path = uri, length = len,
      minSeq = if (kept == 0) m.seq else minSeq,
      addedSnapshotId = snapshotId, addedFiles = 0, existingFiles = kept,
      deletedFiles = removed, addedRows = 0L, existingRows = keptRows,
      deletedRows = removedRows))
  }
}
