package graft.iceberg

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.table.GraftTable
import graft.util.DeleteApply

/** Iceberg v2 IMPORT: read a FOREIGN Iceberg table — one produced by any
  * engine, not just [[IcebergExport]] — with no Iceberg runtime jar, by
  * hand-walking the public table-spec metadata tree:
  *
  *   metadata.json → snapshot → manifest list (Avro) → manifests (Avro)
  *   → data files + v2 delete files (position AND equality encodings).
  *
  * This is the missing read direction of the reference's defining
  * multi-engine contract: its pipelines READ Iceberg tables written by
  * other engines (/root/reference/bronze-silver.py:132,146-149) and its
  * README's whole premise is four engines over one table
  * (/root/reference/README.md:127-197). [[IcebergExport.scan]] already
  * re-reads graft's OWN export; this importer accepts trees graft never
  * wrote. Foreign-tolerance beyond `scan`:
  *
  *   - metadata discovery without `version-hint.text`: highest version
  *     parsed from `v<N>.metadata.json` (HadoopCatalog naming) or
  *     `<NNNNN>-<uuid>.metadata.json` (metastore naming), lexicographic
  *     tie-break — the same resolution the reference's DuckDB demo walk
  *     starts from (query-engine/duckdbdemo/read_iceberg_duckdb.py:22-44);
  *   - per-SNAPSHOT schema resolution (`schema-id` on the snapshot entry,
  *     falling back to `current-schema-id`, falling back to the v1
  *     top-level `schema`) — so time travel to a pre-evolve snapshot
  *     resolves columns against the schema that wrote it;
  *   - multiple partition specs: each manifest resolves its own
  *     `partition_spec_id`; identity columns reconstruct per-file from
  *     the manifest partition tuples (and when a foreign writer ALSO
  *     stored the column bytes in the data file — Iceberg writers do —
  *     the file value is taken, the tuple only fills files that lack it);
  *   - v2 sequence-number INHERITANCE: a manifest entry with null
  *     `sequence_number` inherits the manifest-list entry's sequence (the
  *     spec's rule for ADDED entries; v1 trees run entirely at seq 0);
  *   - v1 fallbacks: snapshots carrying an inline `manifests` array
  *     instead of `manifest-list`, manifest-list entries without
  *     `content`/`sequence_number`, data_file records without `content`;
  *   - unknown extra manifest columns (column_sizes, value_counts, …)
  *     are ignored by reading with the writer's own embedded Avro schema;
  *   - schema-evolution nulls: a data file missing a column added later
  *     reads as NULL via an explicit Spark read schema.
  *
  * Scale design (the 100 TB shape — deliberately NOT the per-partition
  * union [[IcebergExport.scan]] uses): ONE parquet scan over every live
  * data file with an explicit schema, per-file metadata (identity
  * partition tuple, data sequence number) attached by a join on
  * `_metadata.file_path` against an O(|files|) driver-built lookup,
  * equality deletes applied as anti-joins carrying the spec's strict
  * `deleteSeq > dataSeq` ordering, position deletes as one anti-join on
  * (file, `_metadata.row_index`). Every metadata/delete side is
  * broadcast-HINTED only while its manifest-recorded bytes fit the
  * session's autoBroadcastJoinThreshold; past it the hint is dropped so
  * the planner/AQE picks shuffle-vs-broadcast from the sides' accurate
  * size stats — an unconditional hint would drag a 100-GB Flink-upsert
  * equality-delete backlog through the driver. Partition count never
  * multiplies job count; delete application stays inside the one scan's
  * plan. Filters/pruning on the returned frame push into the scan as
  * usual.
  *
  * Column resolution follows the spec: when the tree's parquet files
  * embed Iceberg field ids (every Iceberg-native writer must), the scan
  * resolves columns BY FIELD ID (Spark's parquet.field.id machinery) —
  * so a renamed column reads its values from pre-rename files, and a
  * drop+re-add (same name, new id) correctly reads NULL from old files
  * instead of resurrecting the dropped column's bytes. Id-less trees
  * (files adopted via name-mapping; graft's own export) resolve by name
  * as before; a mixed tree (post-migration) splits into an id-resolved
  * and a name-resolved scan, classified per manifest
  * ([[classifyFiles]]).
  *
  * Honest limits, fail-loud: parquet data files only; flat scalar
  * columns (the engine's table surface); in name-resolution mode no
  * int→long/float→double physical promotion inside one import (Spark's
  * parquet reader refuses the upcast — re-import after a compaction
  * normalizes files; in field-id mode int→long reads through).
  */
object IcebergImport {

  /** One live data file of the resolved snapshot. */
  /** `lower`/`upper` are the manifest's per-column value bounds (spec
    * fields 125/128), parsed from single-value serialization into JVM
    * comparables — present only for columns the writer recorded. String
    * upper bounds may be writer-truncated; per the spec they remain
    * valid (conservative) bounds, so pruning against them stays sound. */
  case class DataFileRef(uri: String, seq: Long,
      identity: Map[String, Any],
      lower: Map[String, Any] = Map.empty,
      upper: Map[String, Any] = Map.empty,
      bytes: Long = 0L,
      rows: Long = 0L,
      nullCounts: Map[String, Long] = Map.empty,
      manifest: String = "",
      firstRowId: Option[Long] = None,
      tScope: Seq[(String, String, Any)] = Seq.empty,
      // manifest-recorded file_format, lowercased ("parquet" / "orc");
      // ORC data files read by NAME (Spark's ORC reader has no
      // field-id mode — a renamed column against pre-rename ORC files
      // resolves via name mapping like any id-less file)
      format: String = "parquet")
  /** One live v2 delete file: `equalityCols` = Some(key column names)
    * for equality deletes, None for position deletes. `scope` is the
    * delete file's own identity-partition tuple — per the v2 spec a
    * PARTITIONED delete file applies only to data with the same
    * partition value, so a scoped equality delete must not remove
    * matching keys in other partitions (position deletes name exact
    * files, which already pin the partition). */
  /** `transformScope` holds the delete file's HIDDEN-TRANSFORM partition
    * scope as (source column, transform, tuple value) triples — per the
    * v2 spec a bucket/truncate/time-partitioned equality delete applies
    * only to data rows whose TRANSFORMED source value equals the tuple
    * value, so readers must evaluate the transform per data row (the
    * Flink-CDC bucket-partitioned shape). `bytes` is the manifest's
    * file_size_in_bytes — the broadcast-vs-shuffle gate for delete
    * application. */
  case class DeleteRef(uri: String, seq: Long,
      equalityCols: Option[Seq[String]],
      scope: Map[String, Any] = Map.empty,
      bytes: Long = 0L,
      transformScope: Seq[(String, String, Any)] = Seq.empty)
  /** One v3 DELETION VECTOR: a puffin blob slice holding the deleted
    * positions of exactly one data file ([[Puffin]]). */
  case class DvRef(uri: String, seq: Long, dataFileUri: String,
      offset: Long, length: Long)
  /** The resolved scan plan of one snapshot of a foreign table.
    * `nameMapping` is the table's `schema.name-mapping.default` (field
    * id → accepted file-side names), used to resolve columns in id-LESS
    * files whose writers used legacy names (Iceberg's fallback
    * resolution order: field id, then name mapping, then plain name). */
  case class TablePlan(snapshotId: Long, schema: StructType,
      identityCols: Seq[String], files: Seq[DataFileRef],
      deletes: Seq[DeleteRef],
      nameMapping: Map[Int, Seq[String]] = Map.empty,
      dvs: Seq[DvRef] = Seq.empty,
      defaults: Seq[DefaultField] = Seq.empty)

  /** One v3 field default: rows of data files that PHYSICALLY LACK the
    * column read `value` (the spec's `initial-default` — the value the
    * field had "all along" for pre-evolution files); files that carry
    * the column read their own bytes, including genuine NULLs. */
  case class DefaultField(name: String, fieldId: Int, value: Any,
      dataType: DataType)

  private[iceberg] def sparkType(t: String): DataType = t match {
    case "boolean" => BooleanType
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "string" => StringType
    case "uuid" => StringType
    case "binary" => BinaryType
    case "date" => DateType
    case "timestamptz" => TimestampType
    case "timestamp" => TimestampNTZType
    case d if d.startsWith("decimal") =>
      val Array(p, s) = d.stripPrefix("decimal(").stripSuffix(")")
        .split(",").map(_.trim.toInt)
      DecimalType(p, s)
    case other => throw new IllegalArgumentException(
      s"iceberg import does not support type '$other' " +
        "(flat scalar columns only)")
  }

  /** Iceberg schema TYPE JSON → Spark type: a JSON string is a scalar
    * ([[sparkType]]); a `{"type":"struct",...}` object recurses, each
    * nested field carrying its Iceberg field id as parquet.field.id
    * metadata so ID-based resolution (and so nested-leaf rename /
    * drop+re-add evolution) works at every depth; `list` and `map`
    * objects map to ArrayType/MapType (spec §Schemas and Data Types).
    * Collection ELEMENT/KEY/VALUE ids have no StructField to ride on —
    * Spark's parquet clipping resolves inside a matched list/map
    * structurally (a list group holds exactly one element, a map
    * exactly one key and one value, so there is nothing to disambiguate
    * by id) — but struct fields nested INSIDE collections do carry
    * their ids, so leaf rename/evolution keeps resolving at any depth.
    * Tree metadata that targets a collection's inner ids (partition
    * spec source, equality-delete key) refuses via [[nestedIdsJ]]. */
  private[iceberg] def sparkTypeJ(j: org.json4s.JValue,
      fieldPath: String): DataType = {
    import org.json4s._
    j match {
      case JString(s) => sparkType(s)
      case obj: JObject if (obj \ "type") == JString("struct") =>
        StructType((obj \ "fields").children.map { f =>
          val name = (f \ "name") match {
            case JString(n) => n
            case other => throw new IllegalStateException(
              s"struct field under '$fieldPath' lacks a name: $other")
          }
          val id = (f \ "id") match {
            case JInt(i) => i.toLong
            case other => throw new IllegalStateException(
              s"struct field '$fieldPath.$name' lacks a field id: " +
                other)
          }
          StructField(name, sparkTypeJ(f \ "type", s"$fieldPath.$name"),
            nullable = true,
            new MetadataBuilder().putLong(FieldIdKey, id).build())
        })
      case obj: JObject if (obj \ "type") == JString("list") =>
        // element-required=true still parses as containsNull=true on
        // the Spark side: nullability is a constraint, not a shape —
        // relaxing it can never mis-read a value
        ArrayType(sparkTypeJ(obj \ "element", s"$fieldPath.element"),
          containsNull = true)
      case obj: JObject if (obj \ "type") == JString("map") =>
        MapType(sparkTypeJ(obj \ "key", s"$fieldPath.key"),
          sparkTypeJ(obj \ "value", s"$fieldPath.value"),
          valueContainsNull = true)
      case obj: JObject =>
        val kind = (obj \ "type") match {
          case JString(k) => k
          case _ => "?"
        }
        throw new IllegalArgumentException(
          s"iceberg import supports scalar, struct, list and map " +
            s"columns only — field '$fieldPath' has unsupported $kind " +
            "type " +
            org.json4s.jackson.JsonMethods.compact(
              org.json4s.jackson.JsonMethods.render(obj)))
      case other => throw new IllegalArgumentException(
        s"unparseable type for field '$fieldPath': $other")
    }
  }

  /** Every field id NESTED inside a top-level column, mapped to its
    * dotted path — struct leaves at any depth plus collection
    * element/key/value ids (which have no Spark-side home at all) —
    * for precise refusals when tree metadata (a partition spec's
    * source-id, an equality delete's key ids) targets a nested field,
    * which the import's pruning/delete machinery does not support.
    * Walks the schema JSON, not the parsed StructType, because
    * list/map inner ids never reach the Spark schema. */
  private[graft] def nestedIdsJ(
      fieldsJ: Seq[org.json4s.JValue]): Map[Int, String] = {
    import org.json4s._
    def idOf(j: JValue): Option[Int] = j match {
      case JInt(i) => Some(i.toInt)
      case _ => None
    }
    def walk(t: JValue, path: String): Seq[(Int, String)] = t match {
      case obj: JObject if (obj \ "type") == JString("struct") =>
        (obj \ "fields").children.flatMap { f =>
          val n = (f \ "name") match {
            case JString(s) => s
            case _ => "?"
          }
          val p = s"$path.$n"
          idOf(f \ "id").map(_ -> p).toSeq ++ walk(f \ "type", p)
        }
      case obj: JObject if (obj \ "type") == JString("list") =>
        idOf(obj \ "element-id").map(_ -> s"$path.element").toSeq ++
          walk(obj \ "element", s"$path.element")
      case obj: JObject if (obj \ "type") == JString("map") =>
        idOf(obj \ "key-id").map(_ -> s"$path.key").toSeq ++
          idOf(obj \ "value-id").map(_ -> s"$path.value").toSeq ++
          walk(obj \ "key", s"$path.key") ++
          walk(obj \ "value", s"$path.value")
      case _ => Seq.empty
    }
    fieldsJ.flatMap { f =>
      val n = (f \ "name") match {
        case JString(s) => s
        case _ => "?"
      }
      walk(f \ "type", n)
    }.toMap
  }

  /** Resolve the current metadata file: version-hint when present (and
    * pointing at an existing file), else the highest version among
    * `v<N>.metadata.json` / `<NNNNN>-<uuid>.metadata.json`, lexicographic
    * tie-break — so catalogless trees from either naming family resolve. */
  private[iceberg] def resolveMetadataFile(fs: FileSystem,
      metaDir: Path): Path = {
    val hint = new Path(metaDir, "version-hint.text")
    if (fs.exists(hint)) {
      val in = fs.open(hint)
      val v = try new String(org.apache.commons.io.IOUtils
        .toByteArray(in), StandardCharsets.UTF_8).trim
      finally in.close()
      val p = new Path(metaDir, s"v$v.metadata.json")
      if (fs.exists(p)) return p
    }
    val candidates = fs.listStatus(metaDir).map(_.getPath)
      .filter(_.getName.endsWith(".metadata.json"))
    require(candidates.nonEmpty, s"no *.metadata.json under $metaDir")
    def versionOf(name: String): Long = {
      val stem = name.stripSuffix(".metadata.json")
      if (stem.startsWith("v") && stem.drop(1).forall(_.isDigit))
        stem.drop(1).toLong
      else stem.takeWhile(_.isDigit) match {
        case "" => -1L
        case ds => ds.toLong
      }
    }
    candidates.maxBy(p => (versionOf(p.getName), p.getName))
  }

  private def readFully(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
  }

  /** Avro object-container read through the Hadoop FS (fs-agnostic —
    * manifests are metadata-sized, a byte-array buffer is fine). Records
    * decode with the WRITER's embedded schema, so foreign manifests with
    * extra stats columns read untouched. */
  private[iceberg] def readAvro(fs: FileSystem, uri: String)
      : Seq[GenericRecord] = readAvroWithMeta(fs, uri)._1

  /** [[readAvro]] that also returns the container's string metadata
    * (schema / partition-spec / content / ...) — needed to REWRITE a
    * foreign manifest in its own writer schema without losing any of the
    * original writer's annotations. */
  private[iceberg] def readAvroWithMeta(fs: FileSystem, uri: String)
      : (Seq[GenericRecord], Map[String, String]) =
    graft.util.Phase.timed("ice.manifest.read") {
      val bytes = readFully(fs, new Path(uri))
      val r = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(bytes),
        new GenericDatumReader[GenericRecord]())
      try {
        val meta = r.getMetaKeys.asScala
          .filterNot(_.startsWith("avro.")) // reserved container keys
          .filter(k => r.getMetaString(k) != null)
          .map(k => k -> r.getMetaString(k)).toMap
        (r.iterator().asScala.toList, meta)
      } finally r.close()
    }

  private def str(v: Any): Any = v match {
    case u: org.apache.avro.util.Utf8 => u.toString
    case b: java.nio.ByteBuffer =>
      val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
    case other => other
  }

  /** Iceberg `.snapshots`-shaped metadata view over a FOREIGN tree (one
    * metadata.json parse, no manifest walk) — the S7 inspection surface
    * for tables graft didn't write: snapshot id / parent / commit time /
    * operation / sequence number. */
  def snapshots(spark: SparkSession, tableLocation: String): DataFrame = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    import spark.implicits._
    val (_, meta, _) = parseMeta(spark, tableLocation)
    (meta \ "snapshots").children.map { s =>
      ((s \ "snapshot-id").extract[Long],
        (s \ "parent-snapshot-id").extractOpt[Long],
        new java.sql.Timestamp((s \ "timestamp-ms").extract[Long]),
        (s \ "summary" \ "operation").extractOpt[String]
          .getOrElse("unknown"),
        (s \ "sequence-number").extractOpt[Long].getOrElse(0L),
        // the full summary property bag — operation plus whatever
        // metrics/txn stamps the committing engine recorded
        (s \ "summary") match {
          case JObject(fs0) => fs0.collect {
            case (k, JString(v)) => k -> v }.toMap
          case _ => Map.empty[String, String]
        })
    }.toDF("snapshot_id", "parent_id", "committed_at", "operation",
      "sequence_number", "summary")
  }

  /** Iceberg `.manifests`-shaped metadata view: one row per manifest of
    * the CURRENT snapshot's manifest list — the observable
    * [[graft.iceberg.IcebergWriteBack.rewriteManifests]] maintains
    * (manifest-LIST length is the planning cost every scan pays before
    * reading a byte). Driver-side metadata only. */
  def manifests(spark: SparkSession, tableLocation: String): DataFrame = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    import spark.implicits._
    val (fs, meta, metaFile) = parseMeta(spark, tableLocation)
    val curId = (meta \ "current-snapshot-id").extractOpt[Long]
      .filter(_ != -1L).getOrElse(throw new IllegalStateException(
        s"$metaFile has no current snapshot"))
    val snap = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == curId).getOrElse(
      throw new IllegalStateException(
        s"snapshot $curId not in $metaFile"))
    readAvro(fs, (snap \ "manifest-list").extract[String]).map { r =>
      val m = IcebergManifests.readList(r, curId)
      (m.path, m.length, m.specId, m.content, m.seq, m.addedSnapshotId,
        m.addedFiles.toLong, m.existingFiles.toLong, m.deletedFiles.toLong,
        m.addedRows, m.existingRows)
    }.toDF("path", "length", "partition_spec_id", "content",
      "sequence_number", "added_snapshot_id", "added_data_files_count",
      "existing_data_files_count", "deleted_data_files_count",
      "added_rows_count", "existing_rows_count")
  }

  /** Iceberg `.refs`-shaped metadata view: one row per named ref (tags
    * and branches, `main` included) — the inspection surface for the
    * write-audit-publish lifecycle
    * ([[graft.iceberg.IcebergWriteBack.createRef]] /
    * `appendTo(branch =>)` / `fastForward`). One metadata.json parse,
    * no manifest walk. */
  def refs(spark: SparkSession, tableLocation: String): DataFrame = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    import spark.implicits._
    val (_, meta, _) = parseMeta(spark, tableLocation)
    val rows = (meta \ "refs") match {
      case JObject(fs0) => fs0.map { case (name, v) =>
        (name, (v \ "type").extractOpt[String].getOrElse("branch"),
          (v \ "snapshot-id").extract[Long])
      }
      case _ => Nil
    }
    rows.toDF("name", "type", "snapshot_id")
  }

  /** Iceberg `.files`-shaped metadata view over a FOREIGN tree: one row
    * per live data file of the resolved snapshot, with its data sequence
    * number and identity-partition tuple (JSON string — tuples are
    * heterogeneous). Walks the manifests (same cost as planning a read). */
  def files(spark: SparkSession, tableLocation: String,
      at: Option[String] = None): DataFrame = {
    import spark.implicits._
    val p = plan(spark, tableLocation, at)
    p.files.map { f =>
      (f.uri, f.seq, f.identity.toSeq.sortBy(_._1).map { case (k, v) =>
        s""""$k":"${String.valueOf(v)}"""" }.mkString("{", ",", "}"))
    }.toDF("file_path", "sequence_number", "partition")
  }

  /** Iceberg `.partitions`-shaped metadata view: one row per live
    * partition tuple of the resolved snapshot with record/file counts,
    * total data bytes, and the delete-side footprint — the layout
    * introspection an Iceberg user reaches for to diagnose skew and
    * pick compaction targets. Tuples render as sorted JSON (identity
    * fields by name; hidden-transform fields as `transform(col)`), the
    * same encoding as [[files]]; delete FILES attribute under their own
    * spec's tuple (a globally-scoped delete lands under `{}`), and v3
    * deletion vectors attribute to their target data file's partition.
    * Metadata-scale: manifest walks only, no data bytes — record_count
    * is the manifests' live record_count sum (pre-MOR, like Iceberg's
    * own partitions table). */
  def partitions(spark: SparkSession, tableLocation: String,
      at: Option[String] = None): DataFrame = {
    import spark.implicits._
    val p = plan(spark, tableLocation, at)
    def tupleJson(identity: Map[String, Any],
        tScope: Seq[(String, String, Any)]): String = {
      val kvs = identity.toSeq.map { case (k, v) =>
        k -> String.valueOf(v) } ++
        tScope.map { case (c, tf, v) => s"$tf($c)" -> String.valueOf(v) }
      kvs.sortBy(_._1).map { case (k, v) => s""""$k":"$v"""" }
        .mkString("{", ",", "}")
    }
    val filePart: Map[String, String] = p.files.map(f =>
      f.uri -> tupleJson(f.identity, f.tScope)).toMap
    val data = p.files.groupBy(f => filePart(f.uri)).map {
      case (part, fs) => part -> ((fs.map(_.rows).sum,
        fs.size.toLong, fs.map(_.bytes).sum))
    }
    val posDel = p.deletes.filter(_.equalityCols.isEmpty)
      .groupBy(d => tupleJson(d.scope, d.transformScope))
      .map { case (k, ds) => k -> ds.size.toLong }
    val eqDel = p.deletes.filter(_.equalityCols.isDefined)
      .groupBy(d => tupleJson(d.scope, d.transformScope))
      .map { case (k, ds) => k -> ds.size.toLong }
    val dvByPart = p.dvs.groupBy(dv =>
        filePart.getOrElse(dv.dataFileUri, "{}"))
      .map { case (k, ds) => k -> ds.size.toLong }
    val parts = (data.keySet ++ posDel.keySet ++ eqDel.keySet ++
      dvByPart.keySet).toSeq.sorted
    parts.map { part =>
      val (rows, fileCount, bytes) = data.getOrElse(part, (0L, 0L, 0L))
      (part, rows, fileCount, bytes,
        posDel.getOrElse(part, 0L), eqDel.getOrElse(part, 0L),
        dvByPart.getOrElse(part, 0L))
    }.toDF("partition", "record_count", "file_count",
      "total_data_file_size_in_bytes", "position_delete_file_count",
      "equality_delete_file_count", "dv_count")
  }

  /** The foreign table's current snapshot id — a LIGHT metadata.json
    * parse (no manifest walk), cheap enough to poll per micro-batch. */
  def currentSnapshotId(spark: SparkSession,
      tableLocation: String): Option[Long] = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val (_, meta, _) = parseMeta(spark, tableLocation)
    (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
  }

  /** Resolve a foreign table's scan plan at a snapshot: `at` is None
    * (current), a ref name from `refs` (tag or branch), or a snapshot id
    * in digits. */
  /** `tableLocation` is normally the table ROOT (metadata resolved via
    * version-hint / highest version), but an explicit
    * `...metadata.json` path is honored verbatim — the shape a CATALOG
    * hands out as `metadata-location` ([[graft.catalog.RestCatalog]]),
    * which may deliberately differ from the directory's latest file
    * (e.g. after a catalog-side rollback). */
  private[iceberg] def parseMeta(spark: SparkSession, tableLocation: String)
      : (FileSystem, org.json4s.JValue, Path) =
    graft.util.Phase.timed("ice.meta.parse") {
      val fs = new Path(tableLocation)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val metaFile =
        if (tableLocation.endsWith(".metadata.json")) new Path(tableLocation)
        else resolveMetadataFile(fs, new Path(tableLocation, "metadata"))
      val meta = org.json4s.jackson.JsonMethods.parse(
        new String(readFully(fs, metaFile), StandardCharsets.UTF_8))
      (fs, meta, metaFile)
    }

  def plan(spark: SparkSession, tableLocation: String,
      at: Option[String] = None): TablePlan =
    graft.util.Phase.timed("ice.plan")(planImpl(spark, tableLocation, at))

  private def planImpl(spark: SparkSession, tableLocation: String,
      at: Option[String]): TablePlan = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val (fs, meta, metaFile) = parseMeta(spark, tableLocation)

    // v1/v2 read as before; v3 reads too (deletion vectors decoded via
    // [[Puffin]]) — but any v3 feature that would change ANSWERS if
    // ignored fails loud below (field default values); versions beyond
    // 3 are refused outright rather than mis-read
    val formatVersion = (meta \ "format-version").extractOpt[Int]
      .getOrElse(1)
    require(formatVersion <= 3,
      s"iceberg import supports format-version <= 3, " +
        s"got $formatVersion ($metaFile)")

    val currentId = (meta \ "current-snapshot-id").extractOpt[Long]
      .filter(_ != -1L)
    val targetId: Long = at match {
      case None => currentId.getOrElse(throw new IllegalStateException(
        s"$metaFile has no current snapshot (empty table)"))
      case Some(a) => (meta \ "refs" \ a) match {
        case JNothing =>
          require(a.nonEmpty && a.forall(_.isDigit),
            s"no ref '$a' in $metaFile")
          a.toLong
        case ref => (ref \ "snapshot-id").extract[Long]
      }
    }
    val snap = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == targetId).getOrElse(
      throw new IllegalStateException(
        s"snapshot $targetId not in $metaFile"))

    // schema: Iceberg reads the CURRENT table schema for current-state
    // reads (so a metadata-only schema evolve is visible before the next
    // data commit), and the SNAPSHOT's stamped schema for explicit time
    // travel; v1 fallback is the top-level `schema`
    val schemaJ: JValue = {
      val sid =
        if (at.isEmpty)
          (meta \ "current-schema-id").extractOpt[Int]
            .orElse((snap \ "schema-id").extractOpt[Int])
        else
          (snap \ "schema-id").extractOpt[Int]
            .orElse((meta \ "current-schema-id").extractOpt[Int])
      val fromList = sid.flatMap(id => (meta \ "schemas").children.find(s =>
        (s \ "schema-id").extractOpt[Int].contains(id)))
      fromList.orElse((meta \ "schema").toOption).getOrElse(
        throw new IllegalStateException(s"no schema in $metaFile"))
    }
    val fieldsJ = (schemaJ \ "fields").children
    // each field carries its Iceberg field id as parquet.field.id
    // metadata AT EVERY NESTING LEVEL: when the tree's data files embed
    // ids (any Iceberg-native writer does), readPlan switches Spark's
    // parquet reader to ID-based column resolution — the spec's rule —
    // so renames and drop+re-add evolution resolve correctly against
    // pre-evolve files, for top-level scalars and nested struct leaves
    // alike (Spark's clipParquetSchema matches ids recursively).
    // Lists/maps parse to ArrayType/MapType; struct leaves INSIDE them
    // keep their ids, the anonymous element/key/value resolve
    // structurally ([[sparkTypeJ]]).
    val schema = StructType(fieldsJ.map { f =>
      val name = (f \ "name").extract[String]
      StructField(name, sparkTypeJ(f \ "type", name), nullable = true,
        new MetadataBuilder().putLong(FieldIdKey,
          (f \ "id").extract[Int].toLong).build())
    })
    // v3 default values: a field with a non-null initial-default reads
    // as that VALUE from files that physically lack the column (the
    // pre-evolution files) — readPlan applies them per file by footer
    // presence; write-default only binds writers, harmless on read
    val defaults: Seq[DefaultField] = fieldsJ.flatMap { f =>
      (f \ "initial-default") match {
        case JNothing | JNull => None
        case d =>
          val name = (f \ "name").extract[String]
          val t = (f \ "type") match {
            case JString(s) => s
            case _ => throw new IllegalArgumentException(
              s"v3 initial-default on non-scalar field '$name' is " +
                "not supported — a silently dropped default mis-reads " +
                "every pre-evolution row")
          }
          Some(DefaultField(name, (f \ "id").extract[Int],
            defaultValue(d, t, name), sparkType(t)))
      }
    }
    val nameById: Map[Int, String] = fieldsJ.map(f =>
      (f \ "id").extract[Int] -> (f \ "name").extract[String]).toMap
    val topNames: Set[String] = nameById.values.toSet

    // partition specs by id; v1 fallback: top-level `partition-spec`
    val specsById: Map[Int, Seq[(String, String, Int)]] = {
      val listed = (meta \ "partition-specs").children.map { s =>
        (s \ "spec-id").extract[Int] -> (s \ "fields").children.map(f =>
          ((f \ "name").extract[String], (f \ "transform").extract[String],
            (f \ "source-id").extract[Int]))
      }.toMap
      if (listed.nonEmpty) listed
      else (meta \ "partition-spec").toOption.map(ps =>
        0 -> ps.children.map(f =>
          ((f \ "name").extract[String], (f \ "transform").extract[String],
            (f \ "source-id").extract[Int]))).toMap
    }
    val defaultSpecId = (meta \ "default-spec-id").extractOpt[Int].getOrElse(0)
    // nested-leaf guards: identity reconstruction and transform pruning
    // resolve source-ids through top-level names — a spec field sourced
    // from a struct LEAF (legal per the spec) would silently mis-bind,
    // so it refuses loud with the dotted path instead
    val nestedById: Map[Int, String] = nestedIdsJ(fieldsJ)
    specsById.values.flatten.foreach { case (n, tr, srcId) =>
      nestedById.get(srcId).foreach(path =>
        throw new IllegalArgumentException(
          s"partition spec field $tr($n) is sourced from NESTED field " +
            s"'$path' (id $srcId) — partitioning by struct leaves is " +
            "not supported by the import surface yet"))
    }

    // manifest list (v2/v1) or the v1 inline `manifests` array;
    // v3 list records additionally carry the data manifest's
    // first_row_id (row lineage's per-manifest starting id)
    val manifestRefs: Seq[(String, Int, Long, Int, Option[Long])] =
      (snap \ "manifest-list").extractOpt[String] match {
        case Some(listUri) => readAvro(fs, listUri).map { r =>
          val m = IcebergManifests.readList(r, 0L)
          (m.path, m.content, m.seq, m.specId, m.firstRowId)
        }
        case None => (snap \ "manifests").children.map(m =>
          (m.extract[String], 0, 0L, defaultSpecId, None))
      }

    val files = Seq.newBuilder[DataFileRef]
    val deletes = Seq.newBuilder[DeleteRef]
    val dvs = Seq.newBuilder[DvRef]
    manifestRefs.foreach { case (mPath, mContent, mSeq, specId, mFrid) =>
      val identityFields: Seq[(String, String)] = // (tupleField, column)
        specsById.getOrElse(specId, Seq.empty).collect {
          case (n, "identity", srcId) => n -> nameById.getOrElse(srcId, n)
        }
      // v3 first-row-id inheritance cursor: advances over EVERY data
      // entry of the manifest in order — including DELETED ones, so a
      // later status flip can never shift the ids of files after it
      var rowIdCursor: Option[Long] = mFrid
      readAvro(fs, mPath).foreach { e =>
        val status = e.get("status").asInstanceOf[Int]
        val frid: Option[Long] = {
          val df0 = e.get("data_file").asInstanceOf[GenericRecord]
          val isData = (mContent == 0) && Option(df0.get("content"))
            .forall(_.asInstanceOf[Number].intValue == 0)
          if (!isData) None
          else {
            val explicit =
              if (df0.getSchema.getField("first_row_id") == null) None
              else Option(df0.get("first_row_id"))
                .map(_.asInstanceOf[Number].longValue)
            explicit.orElse(rowIdCursor.map { c =>
              rowIdCursor = Some(c + Option(df0.get("record_count"))
                .map(_.asInstanceOf[Number].longValue).getOrElse(0L))
              c
            })
          }
        }
        if (status != 2) { // 2 = DELETED
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          // v2 inheritance: a null entry sequence inherits the manifest
          // list entry's sequence (ADDED rows of an unrewritten manifest)
          val seq = Option(e.get("sequence_number"))
            .map(_.asInstanceOf[Long]).getOrElse(mSeq)
          val content = Option(df.get("content"))
            .map(_.asInstanceOf[Int]).getOrElse(0)
          val uri = df.get("file_path").toString
          val fmt = Option(df.get("file_format")).map(_.toString)
            .getOrElse("PARQUET")
          val fileBytes = Option(df.get("file_size_in_bytes"))
            .map(_.asInstanceOf[Number].longValue).getOrElse(0L)
          val isDelete = mContent == 1 || content != 0
          def optField(n: String): Option[AnyRef] =
            if (df.getSchema.getField(n) == null) None
            else Option(df.get(n))
          if (isDelete && fmt.equalsIgnoreCase("puffin")) {
            // v3 deletion vector: a blob slice of this puffin file
            // holding referenced_data_file's deleted positions
            require(content == 1,
              s"puffin delete entry with content=$content ($uri)")
            def need(n: String): AnyRef = optField(n).getOrElse(
              throw new IllegalStateException(
                s"deletion-vector entry lacks $n ($uri)"))
            dvs += DvRef(uri, seq, need("referenced_data_file").toString,
              need("content_offset").asInstanceOf[Number].longValue,
              need("content_size_in_bytes").asInstanceOf[Number]
                .longValue)
          } else {
          // data files: parquet (id- or name-resolved) and ORC
          // (name-resolved). DELETE files stay parquet-only: an
          // ORC-encoded delete file refuses loud below.
          require(fmt.equalsIgnoreCase("parquet") ||
            (!isDelete && fmt.equalsIgnoreCase("orc")),
            if (isDelete)
              s"iceberg import reads parquet DELETE files only, got " +
                s"$fmt ($uri) — compact/rewrite the table's deletes first"
            else
              s"iceberg import reads parquet/orc data files only, " +
                s"got $fmt ($uri)")
          if (isDelete) content match {
            case 2 =>
              val ids = df.get("equality_ids")
                .asInstanceOf[java.util.List[Integer]].asScala.toSeq
              // partition scope of the delete file itself: identity
              // fields become an extra literal predicate; a
              // NON-identity (hidden-transform) scope is captured as
              // (source col, transform, tuple value) triples — readPlan
              // evaluates the transform per data row (the v2 rule: a
              // partitioned delete file applies only within its own
              // partition), so Flink-style bucket-partitioned equality
              // deletes import instead of refusing
              val part = Option(df.get("partition"))
                .map(_.asInstanceOf[GenericRecord])
              val scope = identityFields.flatMap { case (tf, colName) =>
                part.flatMap(p =>
                  if (p.getSchema.getField(tf) == null) None
                  else Option(p.get(tf)).map(v => colName -> str(v)))
              }.toMap
              val nonIdentity = specsById.getOrElse(specId, Seq.empty)
                .filter(_._2 != "identity")
              val tScope = nonIdentity.flatMap { case (n, tr, srcId) =>
                part.flatMap { p =>
                  if (p.getSchema.getField(n) == null) None
                  else if (tr == "void") None // void: null for every row
                  else {
                    require(SupportedTransform.matches(tr),
                      s"equality delete $uri is scoped by unsupported " +
                        s"partition transform $tr($n) — import after " +
                        "the source table compacts its deletes")
                    val v = Option(p.get(n)).map(str).orNull
                    require(!v.isInstanceOf[Array[Byte]],
                      s"equality delete $uri: binary-valued transform " +
                        s"scope $tr($n) unsupported")
                    Some((nameById.getOrElse(srcId, n), tr, v))
                  }
                }
              }
              deletes += DeleteRef(uri, seq,
                Some(ids.map(i => nameById.getOrElse(i.toInt,
                  throw new IllegalStateException(
                    nestedById.get(i.toInt).map(path =>
                      s"equality delete keyed on NESTED field '$path' " +
                        s"(id $i) is not supported ($uri)")
                      .getOrElse(
                        s"equality_ids field $i not in schema ($uri)"))))),
                scope, fileBytes, tScope)
            case 1 => deletes += DeleteRef(uri, seq, None,
              bytes = fileBytes)
            case other => throw new IllegalStateException(
              s"unknown delete content $other in $mPath")
          } else {
            val part = Option(df.get("partition"))
              .map(_.asInstanceOf[GenericRecord])
            // hidden-transform tuple values of this DATA file — the
            // file-pruning input for point predicates on the source
            // column ([[tupleMightMatch]]); unsupported transforms and
            // binary values simply don't prune (never refuse here)
            val dataTScope = specsById.getOrElse(specId, Seq.empty)
              .filter(t => t._2 != "identity" && t._2 != "void")
              .flatMap { case (n, tr, srcId) =>
                part.flatMap { pt =>
                  if (pt.getSchema.getField(n) == null) None
                  else if (!SupportedTransform.matches(tr)) None
                  else {
                    val v = Option(pt.get(n)).map(str).orNull
                    if (v.isInstanceOf[Array[Byte]]) None
                    else Some((nameById.getOrElse(srcId, n), tr, v))
                  }
                }
              }
            val identity = identityFields.flatMap { case (tf, colName) =>
              part.flatMap(p =>
                if (p.getSchema.getField(tf) == null) None
                else Some(colName -> str(p.get(tf))))
            }.toMap
            // per-column value bounds (fields 125/128): Avro encodes the
            // int-keyed map as an array of key/value records (or a real
            // map from some writers); unknown field ids / unparseable
            // types are simply absent → no pruning on that column
            // id → name resolution covers NESTED struct leaves too
            // (Iceberg stats are per leaf field id; the map keys by the
            // dotted path, which [[boundPreds]] produces for nested
            // predicates) — collection slots resolve to no leaf type
            // and stay absent; a leaf path colliding with a LITERAL
            // top-level column name is dropped (the string-keyed map
            // can't tell them apart — no stats beats wrong stats)
            def statName(fid: Int): Option[(String, DataType)] =
              nameById.get(fid)
                .orElse(nestedById.get(fid).filterNot(topNames.contains))
                .flatMap(n => leafType(schema, n).map(n -> _))
            def boundsOf(fieldName: String): Map[String, Any] = {
              if (df.getSchema.getField(fieldName) == null) Map.empty
              else Option(df.get(fieldName)).map {
                case l: java.util.List[_] => l.asScala.flatMap { r0 =>
                  val r = r0.asInstanceOf[GenericRecord]
                  val fid = r.get("key").asInstanceOf[Int]
                  statName(fid).flatMap { case (name, dt) =>
                    boundValue(str(r.get("value")).asInstanceOf[Array[Byte]],
                      dt).map(name -> _)
                  }
                }.toMap
                case m: java.util.Map[_, _] => m.asScala.flatMap {
                  case (k, v) =>
                    scala.util.Try(str(k).toString.toInt).toOption
                      .flatMap(statName).flatMap { case (name, dt) =>
                        boundValue(str(v).asInstanceOf[Array[Byte]],
                          dt).map(name -> _)
                      }
                }.toMap
                case _ => Map.empty[String, Any]
              }.getOrElse(Map.empty)
            }
            // per-column null counts (field 110, same int-keyed map
            // encodings as the bounds) — IS [NOT] NULL file pruning
            def longMapOf(fieldName: String): Map[String, Long] = {
              if (df.getSchema.getField(fieldName) == null) Map.empty
              else Option(df.get(fieldName)).map {
                case l: java.util.List[_] => l.asScala.flatMap { r0 =>
                  val r = r0.asInstanceOf[GenericRecord]
                  statName(r.get("key").asInstanceOf[Int]).map(
                    _._1 -> r.get("value").asInstanceOf[Number].longValue)
                }.toMap
                case m: java.util.Map[_, _] => m.asScala.flatMap {
                  case (k, v) =>
                    scala.util.Try(str(k).toString.toInt).toOption
                      .flatMap(statName).map(
                        _._1 -> v.asInstanceOf[Number].longValue)
                }.toMap
                case _ => Map.empty[String, Long]
              }.getOrElse(Map.empty)
            }
            files += DataFileRef(uri, seq, identity,
              boundsOf("lower_bounds"), boundsOf("upper_bounds"),
              fileBytes,
              Option(df.get("record_count"))
                .map(_.asInstanceOf[Number].longValue).getOrElse(0L),
              longMapOf("null_value_counts"), manifest = mPath,
              firstRowId = frid, tScope = dataTScope,
              format = fmt.toLowerCase)
          }
          } // end parquet entries (data + v2 delete files)
        }
      }
    }
    // schema.name-mapping.default: a JSON list of {field-id, names}
    // (flat fields only — nested mappings have no flat-scalar targets)
    val nameMapping: Map[Int, Seq[String]] =
      (meta \ "properties" \ "schema.name-mapping.default")
        .extractOpt[String].map { j =>
          org.json4s.jackson.JsonMethods.parse(j).children.flatMap { m =>
            (m \ "field-id").extractOpt[Int].map(fid =>
              fid -> (m \ "names").children.map(_.extract[String]))
          }.toMap
        }.getOrElse(Map.empty)
    TablePlan(targetId, schema,
      specsById.getOrElse(defaultSpecId, Seq.empty).collect {
        case (n, "identity", srcId) => nameById.getOrElse(srcId, n) },
      files.result(), deletes.result(), nameMapping, dvs.result(),
      defaults)
  }

  /** Parse a v3 `initial-default` (the spec's single-value JSON
    * serialization) into the JVM external value `lit()` accepts.
    * Unsupported (type, json) combinations refuse loudly — a silently
    * dropped default mis-reads every pre-evolution row. */
  private def defaultValue(d: org.json4s.JValue, icebergType: String,
      fieldName: String): Any = {
    import org.json4s._
    def bad(): Nothing = throw new IllegalArgumentException(
      s"unsupported v3 initial-default $d for $icebergType " +
        s"field $fieldName")
    (icebergType, d) match {
      case ("boolean", JBool(b)) => b
      case ("int", JInt(i)) => i.toInt
      case ("long", JInt(i)) => i.toLong
      case ("float", JDouble(x)) => x.toFloat
      case ("float", JDecimal(x)) => x.toFloat
      case ("float", JInt(i)) => i.toFloat
      case ("double", JDouble(x)) => x
      case ("double", JDecimal(x)) => x.toDouble
      case ("double", JInt(i)) => i.toDouble
      case ("string" | "uuid", JString(s)) => s
      case ("date", JString(s)) => java.sql.Date.valueOf(s)
      case ("timestamp", JString(s)) =>
        java.time.LocalDateTime.parse(s)
      case ("timestamptz", JString(s)) =>
        java.time.Instant.from(
          java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME
            .parse(s))
      case (t, JString(s)) if t.startsWith("decimal") =>
        new java.math.BigDecimal(s)
      case _ => bad()
    }
  }

  /** Inverse of the spec's Appendix-D single-value serialization for the
    * scalar types the import surface supports; None = don't prune. */
  private def boundValue(bytes: Array[Byte], dt: DataType): Option[Any] = {
    import java.nio.{ByteBuffer, ByteOrder}
    def le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    dt match {
      case IntegerType | DateType if bytes.length >= 4 => Some(le.getInt)
      case LongType | TimestampType | TimestampNTZType
          if bytes.length >= 8 => Some(le.getLong)
      case FloatType if bytes.length >= 4 => Some(le.getFloat)
      case DoubleType if bytes.length >= 8 => Some(le.getDouble)
      case BooleanType if bytes.length >= 1 => Some(bytes(0) != 0)
      case StringType =>
        Some(new String(bytes, StandardCharsets.UTF_8))
      case d: DecimalType => Some(new java.math.BigDecimal(
        new java.math.BigInteger(bytes), d.scale))
      case _ => None
    }
  }

  /** The hidden-transform names [[foreignTransformCol]] can evaluate —
    * the spec's full single-arg set (Appendix B / C). */
  private[iceberg] object SupportedTransform {
    val Bucket = """bucket\[(\d+)\]""".r
    val Truncate = """truncate\[(\d+)\]""".r
    def matches(tr: String): Boolean = tr match {
      case Bucket(_) | Truncate(_) => true
      case "year" | "month" | "day" | "hour" => true
      case _ => false
    }
  }

  /** The value type [[foreignTransformCol]] produces for a transform —
    * the type of the delete-side tuple-value join column (truncate
    * keeps the source type; bucket and the epoch-ordinal time
    * transforms are ints). Unknown transforms still refuse loudly when
    * [[foreignTransformCol]] evaluates them. */
  private[iceberg] def transformResultType(tr: String, dt: DataType): DataType =
    tr match {
      case SupportedTransform.Truncate(_) => dt
      case _ => IntegerType
    }

  /** Evaluate a FOREIGN partition transform over a data column — the
    * spec's own definitions (Appendix B hashes; time transforms are
    * EPOCH ORDINALS: year = years since 1970, month = months since
    * 1970-01, day = epoch days, hour = epoch hours — NOT calendar
    * parts), so a transform-scoped delete's tuple value compares
    * directly against this column. All date/time math is UTC, matching
    * the spec's timezone-free partition values. */
  private[iceberg] def foreignTransformCol(tr: String, src: Column,
      dt: DataType): Column = {
    import org.apache.spark.sql.graftglue.GraftSqlGlue
    def utcDate: Column = dt match {
      case DateType => src
      case TimestampType | TimestampNTZType => GraftSqlGlue.column(
        org.apache.spark.sql.catalyst.expressions.Cast(
          GraftSqlGlue.expression(src), DateType, Some("UTC")))
      case other => throw new IllegalArgumentException(
        s"time transform $tr unsupported for source type $other")
    }
    def epochDays: Column =
      datediff(utcDate, lit(java.sql.Date.valueOf("1970-01-01")))
    tr match {
      case SupportedTransform.Bucket(n) => GraftSqlGlue.column(
        graft.functions.IcebergBucketExpr(
          GraftSqlGlue.expression(src), n.toInt))
      case SupportedTransform.Truncate(w) => dt match {
        case StringType => substring(src, 1, w.toInt)
        case IntegerType => src - pmod(src, lit(w.toInt))
        case LongType => src - pmod(src, lit(w.toLong))
        case other => throw new IllegalArgumentException(
          s"truncate[$w] scope unsupported for source type $other")
      }
      case "year" => year(utcDate) - lit(1970)
      case "month" =>
        (year(utcDate) - lit(1970)) * lit(12) + (month(utcDate) - lit(1))
      case "day" => epochDays
      case "hour" => dt match {
        case TimestampType =>
          val us = unix_micros(src)
          ((us - pmod(us, lit(3600000000L))) / lit(3600000000L))
            .cast(IntegerType)
        case other => throw new IllegalArgumentException(
          s"hour scope unsupported for source type $other " +
            "(timestamptz only)")
      }
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform $other")
    }
  }

  /** One prunable conjunct: column `op` literal, in bound space. */
  private case class BoundPred(col: String, op: String, v: Any)

  /** Total order inside one bound type; None = incomparable (never
    * prune). */
  private def cmpBound(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: Int, y: Int) => Some(x.compare(y))
    case (x: Long, y: Long) => Some(x.compare(y))
    case (x: Float, y: Float) =>
      Some(java.lang.Float.compare(x, y))
    case (x: Double, y: Double) =>
      Some(java.lang.Double.compare(x, y))
    case (x: String, y: String) => Some(x.compare(y))
    case (x: Boolean, y: Boolean) => Some(x.compare(y))
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) =>
      Some(x.compareTo(y))
    case _ => None
  }

  /** Normalize a Catalyst literal's internal value into the column's
    * bound space (Int for int/date, Long for long/timestamp, String,
    * BigDecimal, …); None = this conjunct can't prune. */
  private def normLit(v: Any, dt: DataType): Option[Any] = (v, dt) match {
    case (null, _) => None
    case (i: Int, IntegerType | DateType) => Some(i)
    case (i: Int, LongType) => Some(i.toLong)
    case (l: Long, LongType | TimestampType | TimestampNTZType) => Some(l)
    // NaN literals never prune: Spark orders NaN greatest and equal to
    // itself, but the spec keeps NaN OUT of value bounds (separate
    // nan_value_counts) — bounds say nothing about NaN presence
    case (f: Float, FloatType) => Some(f).filterNot(_.isNaN)
    case (f: Float, DoubleType) => Some(f.toDouble).filterNot(_.isNaN)
    case (d: Double, DoubleType) => Some(d).filterNot(_.isNaN)
    case (b: Boolean, BooleanType) => Some(b)
    case (s, StringType) => Some(s.toString) // UTF8String et al.
    case (d: org.apache.spark.sql.types.Decimal, _: DecimalType) =>
      Some(d.toJavaBigDecimal)
    case _ => None
  }

  /** The Spark type at a (possibly dotted) path — exact top-level
    * first, then the struct-leaf walk; the dotted form is how
    * nested-leaf bounds and predicates key into the pruning maps
    * (shared resolver: [[graft.table.FileStats.leafType]]). */
  private def leafType(schema: StructType, path: String)
      : Option[DataType] =
    graft.table.FileStats.leafType(schema, path)

  /** Extract the bound-prunable conjuncts of a predicate: top-level ANDs
    * of `column (=|<|<=|>|>=) literal` (either side). Everything else is
    * ignored for pruning — the full predicate is still applied to the
    * scan, so pruning is only ever an optimization. */
  private def boundPreds(e: org.apache.spark.sql.catalyst.expressions
      .Expression, schema: StructType): Seq[BoundPred] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    // nested struct leaves prune too (Iceberg stats are per LEAF field
    // id): a dotted attribute or a GetStructField chain names the leaf
    // by its dotted path, matching the manifest-bounds keys. Each
    // branch resolves the column's TYPE itself — an AttributeReference
    // is always a top-level column (even one literally named "a.b"), a
    // multi-part attribute walks struct fields, a GetStructField steps
    // one level. A name BOTH a literal column and a leaf path could
    // claim is ambiguous in the string-keyed stats map → no pruning.
    val ambiguous: Set[String] = {
      val top = schema.fieldNames.toSet
      def leaves(dt: DataType, path: String): Seq[String] = dt match {
        case st: StructType => st.fields.toSeq.flatMap(c =>
          leaves(c.dataType, s"$path.${c.name}"))
        case _ => Seq(path)
      }
      schema.fields.toSeq.collect { case f if f.dataType.isInstanceOf[StructType] =>
        leaves(f.dataType, f.name)
      }.flatten.filter(top.contains).toSet
    }
    def colInfo(x: Expression): Option[(String, DataType)] = (x match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        schema.fields.find(_.name == a.nameParts.head)
          .map(f => f.name -> f.dataType)
      case a: UnresolvedAttribute =>
        def walk(dt: DataType, rest: List[String]): Option[DataType] =
          (dt, rest) match {
            case (t, Nil) => Some(t)
            case (st: StructType, h :: tail) => st.fields
              .find(_.name == h).flatMap(f => walk(f.dataType, tail))
            case _ => None
          }
        schema.fields.find(_.name == a.nameParts.head)
          .flatMap(f => walk(f.dataType, a.nameParts.tail.toList))
          .map(t => a.nameParts.mkString(".") -> t)
      case a: AttributeReference =>
        schema.fields.find(_.name == a.name).map(f => f.name -> f.dataType)
      case g: GetStructField =>
        colInfo(g.child).flatMap {
          case (p, st: StructType) =>
            st.fields.find(_.name == g.extractFieldName)
              .map(f => s"$p.${g.extractFieldName}" -> f.dataType)
          case _ => None
        }
      case _ => None
    }).filterNot { case (n, _) => ambiguous.contains(n) }
    val typeByName: scala.collection.mutable.Map[String, DataType] =
      scala.collection.mutable.Map.empty
    def colName(x: Expression): Option[String] = colInfo(x).map {
      case (n, t) => typeByName(n) = t; n
    }
    def typeOf(n: String): DataType = typeByName(n)
    // Column-built predicates arrive as UNRESOLVED function applications
    // ('and, '>, '=, ...), not typed comparisons — match both forms
    def flip(op: String): String = op match {
      case ">" => "<"; case "<" => ">"
      case ">=" => "<="; case "<=" => ">="; case o => o
    }
    def cmp(op: String, l: Expression, r: Expression): Seq[BoundPred] =
      (l, r) match {
        case (a, Literal(v, _)) => mk(a, op, v)
        case (Literal(v, _), a) => mk(a, flip(op), v)
        case _ => Seq.empty
      }
    // IN-list: prunable as "keep the file iff ANY listed value might be
    // inside its bounds". A single unnormalizable value disables the
    // whole conjunct (dropping it could wrongly prune the file that
    // matched only that value) — conservative, never under-keeps.
    def mkIn(a: Expression, raw: Seq[Any]): Seq[BoundPred] =
      colName(a).toSeq.flatMap { n =>
        val normed = raw.map(normLit(_, typeOf(n)))
        if (normed.exists(_.isEmpty)) Seq.empty
        else Seq(BoundPred(n, "in", normed.flatten))
      }
    def one(x: Expression): Seq[BoundPred] = x match {
      case And(l, r) => one(l) ++ one(r)
      case EqualTo(l, r) => cmp("=", l, r)
      case GreaterThan(l, r) => cmp(">", l, r)
      case GreaterThanOrEqual(l, r) => cmp(">=", l, r)
      case LessThan(l, r) => cmp("<", l, r)
      case LessThanOrEqual(l, r) => cmp("<=", l, r)
      case In(a, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        mkIn(a, vs.map(_.asInstanceOf[Literal].value))
      case IsNull(a) =>
        colName(a).map(BoundPred(_, "isnull", null)).toSeq
      case IsNotNull(a) =>
        colName(a).map(BoundPred(_, "notnull", null)).toSeq
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.arguments.length == 2 =>
        f.nameParts.lastOption match {
          case Some("and") => one(f.arguments(0)) ++ one(f.arguments(1))
          case Some(op @ ("=" | "==" | ">" | ">=" | "<" | "<=")) =>
            cmp(if (op == "==") "=" else op,
              f.arguments(0), f.arguments(1))
          case _ => Seq.empty
        }
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.arguments.length >= 2 &&
            f.nameParts.lastOption.contains("in") &&
            f.arguments.tail.forall(_.isInstanceOf[Literal]) =>
        mkIn(f.arguments.head,
          f.arguments.tail.map(_.asInstanceOf[Literal].value))
      case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction
          if f.arguments.length == 1 &&
            f.nameParts.lastOption.map(_.toLowerCase(java.util.Locale.ROOT))
              .exists(n => n == "isnull" || n == "isnotnull") =>
        val op = if (f.nameParts.last.equalsIgnoreCase("isnull")) "isnull"
          else "notnull"
        colName(f.arguments.head).map(BoundPred(_, op, null)).toSeq
      case _ => Seq.empty
    }
    def mk(a: Expression, op: String, v: Any): Seq[BoundPred] =
      colName(a).flatMap(n =>
        normLit(v, typeOf(n)).map(BoundPred(n, op, _))).toSeq
    one(e)
  }

  /** Driver-side SCALAR evaluation of a hidden transform over a
    * NORMALIZED literal ([[normLit]] forms: Int for int/date, Long
    * micros for timestamps, String for strings) — the pruning-time twin
    * of [[foreignTransformCol]]; the definitions are the spec's own
    * (Appendix-B murmur3 buckets, epoch-ordinal time transforms).
    * None = not evaluable → no pruning. */
  private def scalarTransform(tr: String, v: Any, dt: DataType)
      : Option[Any] = try {
    tr match {
      case SupportedTransform.Bucket(n) =>
        val conv: Any = dt match {
          case StringType => org.apache.spark.unsafe.types.UTF8String
            .fromString(v.toString)
          case _ => v
        }
        Some(graft.functions.IcebergBucketHash
          .bucketValue(conv, dt, n.toInt))
      case SupportedTransform.Truncate(w) => (v, dt) match {
        case (i: Int, IntegerType) => Some(i - Math.floorMod(i, w.toInt))
        case (l: Long, LongType) => Some(l - Math.floorMod(l, w.toLong))
        case (s: String, StringType) =>
          Some(s.substring(0, math.min(w.toInt, s.length)))
        case _ => None
      }
      case "day" | "year" | "month" | "hour" =>
        val epochDay: Option[Long] = (v, dt) match {
          case (i: Int, DateType) => Some(i.toLong)
          case (l: Long, TimestampType | TimestampNTZType) =>
            Some(Math.floorDiv(l, 86400000000L))
          case _ => None
        }
        tr match {
          case "day" => epochDay.map(_.toInt)
          case "hour" => (v, dt) match {
            case (l: Long, TimestampType) =>
              Some(Math.floorDiv(l, 3600000000L).toInt)
            case _ => None
          }
          case "year" => epochDay.map(d =>
            java.time.LocalDate.ofEpochDay(d).getYear - 1970)
          case "month" => epochDay.map { d =>
            val ld = java.time.LocalDate.ofEpochDay(d)
            (ld.getYear - 1970) * 12 + (ld.getMonthValue - 1)
          }
          case _ => None
        }
      case _ => None
    }
  } catch { case _: Exception => None }

  /** HIDDEN-PARTITION pruning: can this file's transform tuple admit a
    * row satisfying the conjunct? Point shapes only (`=`, IN) — a
    * bucket hash says nothing about ranges, and monotone time
    * transforms usually prune via column bounds anyway. A null tuple
    * value means the file holds only null-source rows, which no
    * equality literal matches. Unevaluable combinations keep the file
    * (pruning is an optimization, never a filter). */
  private def tupleMightMatch(f: DataFileRef, p: BoundPred,
      schema: StructType): Boolean = {
    if (f.tScope.isEmpty) return true
    def admit(v: Any): Boolean = f.tScope.forall { case (src, tr, tuple) =>
      src != p.col || {
        leafType(schema, p.col).flatMap(scalarTransform(tr, v, _)) match {
          case None => true
          case Some(tv) =>
            tuple != null && String.valueOf(tv) == String.valueOf(tuple)
        }
      }
    }
    p.op match {
      case "=" => admit(p.v)
      case "in" => p.v.asInstanceOf[Seq[Any]].exists(admit)
      case _ => true
    }
  }

  /** Can this file possibly hold a row satisfying the conjunct? Missing
    * bounds (or incomparable values) → yes. */
  private def mightMatch(f: DataFileRef, p: BoundPred): Boolean = {
    val lo = f.lower.get(p.col)
    val hi = f.upper.get(p.col)
    def c(b: Option[Any]): Option[Int] = b.flatMap(cmpBound(_, p.v))
    p.op match {
      case "=" => c(lo).forall(_ <= 0) && c(hi).forall(_ >= 0)
      case ">" => c(hi).forall(_ > 0)
      case ">=" => c(hi).forall(_ >= 0)
      case "<" => c(lo).forall(_ < 0)
      case "<=" => c(lo).forall(_ <= 0)
      case "in" => p.v.asInstanceOf[Seq[Any]].exists(v =>
        lo.flatMap(cmpBound(_, v)).forall(_ <= 0) &&
          hi.flatMap(cmpBound(_, v)).forall(_ >= 0))
      // null-count pruning (manifest field 110): prune IS NULL when the
      // writer recorded ZERO nulls; prune IS NOT NULL when EVERY row is
      // null. Missing counts → keep (no information).
      case "isnull" => f.nullCounts.get(p.col).forall(_ > 0L)
      case "notnull" => // prune only all-null files with a KNOWN row count
        f.rows <= 0L || f.nullCounts.get(p.col).forall(_ < f.rows)
      case _ => true
    }
  }

  /** Filtered foreign read with MANIFEST-LEVEL data skipping: files whose
    * recorded column bounds prove no row can satisfy `predicate` never
    * enter the scan — Iceberg's scan planning, hand-walked. The predicate
    * is then applied to the surviving scan in full, so the result is
    * byte-identical to `read(...).filter(predicate)`; pruning is purely a
    * scheduling/IO win (at 100 TB, a selective range predicate on a
    * sorted/clustered column skips almost every file before any footer is
    * opened). Prunable shapes: AND-chains of `col (=,<,<=,>,>=) literal`,
    * `col IN (literals)` (kept iff ANY listed value fits the file's
    * bounds), and `col IS [NOT] NULL` via the manifest's per-column null
    * counts (field 110) — IS NULL skips zero-null files, IS NOT NULL
    * skips all-null files; other conjuncts simply don't prune.
    * HIDDEN-PARTITION pruning composes in: a point predicate on a
    * bucket/truncate/time-transformed source column keeps only the
    * files whose manifest tuple equals the transform of the literal
    * ([[tupleMightMatch]]) — the point lookup on a bucket-partitioned
    * tree that column bounds can never serve. */
  def readWhere(spark: SparkSession, tableLocation: String,
      predicate: Column, at: Option[String] = None): DataFrame = {
    val p = plan(spark, tableLocation, at)
    val preds = boundPreds(org.apache.spark.sql.graftglue.GraftSqlGlue
      .resolvedExpression(predicate), p.schema)
    val kept = p.files.filter(f => preds.forall(pr =>
      mightMatch(f, pr) && tupleMightMatch(f, pr, p.schema)))
    readPlan(spark, p.copy(files = kept)).filter(predicate)
  }

  /** JVM value for a manifest partition value as Spark external type. */
  private def externalValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (i: Int, DateType) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(i.toLong))
    case (l: Long, TimestampType) => // spec: micros from epoch
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(l, 1000000L), Math.floorMod(l, 1000000L) * 1000L))
    case (l: Long, TimestampNTZType) =>
      java.time.LocalDateTime.ofEpochSecond(
        Math.floorDiv(l, 1000000L),
        (Math.floorMod(l, 1000000L) * 1000L).toInt,
        java.time.ZoneOffset.UTC)
    case (b: Array[Byte], d: DecimalType) =>
      new java.math.BigDecimal(new java.math.BigInteger(b), d.scale)
    case (s: String, d: DecimalType) => new java.math.BigDecimal(s)
    case (i: Int, LongType) => i.toLong
    case (x, _) => x
  }

  private val FileCol = "__ice_import_file__"
  private val SeqCol = "__ice_import_seq__"
  private val PosCol = "__ice_import_pos__"
  private val ManifestUriCol = "__ice_import_manifest_uri__"
  /** Lineage columns exposed by [[readLineage]]: the data file's
    * MANIFEST-form URI (the exact string other readers join position
    * deletes against) and the row's ordinal within that file. */
  private[iceberg] val LineageFileCol = "_ice_file"
  private[iceberg] val LineagePosCol = "_ice_pos"
  /** v3 ROW-LINEAGE reserved columns (table-spec v3 "Row Lineage"):
    * a rewrite (compaction) materializes them into its output files so
    * every surviving row keeps its id; readers prefer the materialized
    * column and fall back to first_row_id inheritance + row ordinal. */
  private[iceberg] val RowIdCol = "_row_id"
  private[iceberg] val LastUpdSeqCol = "_last_updated_sequence_number"
  private[iceberg] val RowIdFieldId = 2147483540L
  private[iceberg] val LastUpdSeqFieldId = 2147483539L
  /** Spark's parquet field-id metadata key (ParquetUtils.FIELD_ID_METADATA_KEY). */
  private val FieldIdKey = "parquet.field.id"
  private val FieldIdReadConf = "spark.sql.parquet.fieldId.read.enabled"

  private def stripIds(s: StructType): StructType =
    StructType(s.map(f => f.copy(metadata = Metadata.empty,
      dataType = stripIdsType(f.dataType))))

  /** Strip parquet.field.id metadata at every nesting depth — an
    * id-carrying requested schema aimed at an ID-LESS file errors under
    * fieldId.read.enabled (ignoreMissing defaults false), and downstream
    * consumers of the read's output must see a plain schema. */
  private[iceberg] def stripIdsType(dt: DataType): DataType = dt match {
    case st: StructType => stripIds(st)
    case ArrayType(et, n) => ArrayType(stripIdsType(et), n)
    case MapType(kt, vt, n) =>
      MapType(stripIdsType(kt), stripIdsType(vt), n)
    case other => other
  }

  /** One parquet footer's resolution-relevant facts: does it embed field
    * ids, which ids, and what are its top-level column names. */
  private[iceberg] case class FooterInfo(hasIds: Boolean,
      cols: Set[String], ids: Set[Int] = Set.empty)

  private def readFooterInfo(conf: org.apache.hadoop.conf.Configuration,
      uri: String): FooterInfo = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // the manifest's file_path opened as a literal path, as the scan and
    // Iceberg's HadoopFileIO open it: never URI-decoded
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(uri), conf))
    try {
      val fields = r.getFileMetaData.getSchema.getFields.asScala
      FooterInfo(fields.exists(_.getId != null),
        fields.map(_.getName).toSet,
        fields.flatMap(f => Option(f.getId).map(_.intValue)).toSet)
    } finally r.close()
  }

  private[iceberg] def footerInfo(spark: SparkSession, uri: String): FooterInfo =
    readFooterInfo(spark.sessionState.newHadoopConf(), uri)

  /** ORC twin of [[readFooterInfo]]: top-level column names from the
    * file's own TypeDescription, plus Iceberg field ids when the writer
    * stamped them as `iceberg.id` attributes. `hasIds` is always false —
    * Spark's ORC reader has no field-id resolution mode, so ORC files
    * are ALWAYS name-resolved; the ids only serve footer-presence
    * checks (v3 defaults). */
  private[iceberg] def orcFooterInfo(
      conf: org.apache.hadoop.conf.Configuration,
      uri: String): FooterInfo = {
    import org.apache.orc.OrcFile
    val r = OrcFile.createReader(new Path(uri),
      OrcFile.readerOptions(conf))
    try {
      val s = r.getSchema
      val names = s.getFieldNames.asScala.toSeq
      val ids = (0 until names.size).flatMap { i =>
        Option(s.getChildren.get(i).getAttributeValue("iceberg.id"))
          .flatMap(v => scala.util.Try(v.toInt).toOption)
      }
      FooterInfo(hasIds = false, names.toSet, ids.toSet)
    } finally r.close()
  }

  /** The session's Hadoop conf, broadcast once for executor-side
    * FileSystem access (footer sniffs, deletion-vector reads and
    * writes); a task reads it as `bc.value.value`. */
  private[iceberg] def shippedConf(spark: SparkSession)
      : Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  /** Sniff EVERY given footer in one batched pass — a driver loop while
    * the count is metadata-small, a distributed map beyond — replacing
    * per-group sequential driver round trips (O(#scope-groups) opens on
    * a many-bucket Flink-CDC tree). */
  private def sniffFooters(spark: SparkSession,
      uris: Seq[String]): Map[String, FooterInfo] =
    graft.util.Phase.timed("ice.footers.sniff") {
      if (uris.isEmpty) Map.empty
      else if (uris.size <= 32) {
        val conf = spark.sessionState.newHadoopConf()
        uris.map(u => u -> readFooterInfo(conf, u)).toMap
      } else {
        val bc = shippedConf(spark)
        spark.sparkContext.parallelize(uris,
          math.max(1, math.min(uris.size / 16 + 1, 256)))
          .map(u => u -> readFooterInfo(bc.value.value, u)).collect().toMap
      }
    }

  /** Classify every data file as id-ful / id-less. Cheap path: sniff a
    * bounded sample of each MANIFEST's files (first + last two of its
    * order) — manifests are homogeneous per writer, so a per-manifest
    * uniform sample classifies that manifest's whole file set with O(1)
    * footer opens per manifest, and an adopted-then-native migrated
    * tree (id-less legacy manifests + id-ful new manifests) classifies
    * correctly where a global ends-only sample could read id-ful files
    * in name mode after a rename. A manifest whose OWN sample is mixed
    * escalates to a DISTRIBUTED sniff of just that manifest's files —
    * one executor-side footer open per file, the same footers the scan
    * reads anyway. */
  private def classifyFiles(spark: SparkSession,
      files: Seq[DataFileRef]): Map[String, Boolean] =
    graft.util.Phase.timed("ice.footers.classify") {
      val byManifest = files.groupBy(_.manifest)
      val sampled: Map[String, Option[Boolean]] = byManifest.map {
        case (m, fs) =>
          val sample = (fs.take(2) ++ fs.takeRight(2)).map(_.uri).distinct
          val vals = sample.map(u => footerInfo(spark, u).hasIds).toSet
          m -> (if (vals.size == 1) Some(vals.head) else None)
      }
      val settled = files.flatMap(f =>
        sampled(f.manifest).map(f.uri -> _)).toMap
      val unsettled = files.filter(f => sampled(f.manifest).isEmpty)
        .map(_.uri)
      if (unsettled.isEmpty) settled
      else {
        val bc = shippedConf(spark)
        settled ++ spark.sparkContext
          .parallelize(unsettled,
            math.max(1, math.min(unsettled.size / 16 + 1, 256)))
          .map(u => u -> readFooterInfo(bc.value.value, u).hasIds)
          .collect().toMap
      }
    }

  /** A parquet scan of manifest-listed files, each a `file_path` (opened
    * as a literal path, never URI-decoded) and its recorded
    * `file_size_in_bytes`, under a schema the plan knows. Planned from the
    * manifests ([[graft.sources.GraftFileIndex.scan]]): no listing job
    * and no footer inference, however many files. A size of 0
    * (unrecorded) falls back to listing the file's directory. */
  private def manifestScan(spark: SparkSession, fs: FileSystem,
      files: Seq[(String, Long)], schema: StructType): DataFrame =
    graft.sources.GraftFileIndex.scan(spark, fs, files.map {
      case (uri, bytes) => (new Path(uri), Option.when(bytes > 0)(bytes)) },
      schema)

  /** Parquet position deletes and deletion vectors (at least one of the
    * two non-empty) as one frame of (file_path, pos,
    * [[DeleteApply.SeqCol]]) rows, `file_path` in manifest URI form.
    * Applying both kinds together is sound: a DV is the spec's
    * compressed position-delete encoding, and deletes are monotone (a
    * rewrite makes new files, it never un-deletes a position). The
    * parquet ones are ONE scan under the spec's position-delete schema,
    * each row tagged with its own file's sequence. */
  private def positionRows(spark: SparkSession, posDeletes: Seq[DeleteRef],
      dvs: Seq[DvRef]): DataFrame = {
    val parquetDel = Option.when(posDeletes.nonEmpty) {
      val fs = new Path(posDeletes.head.uri)
        .getFileSystem(spark.sessionState.newHadoopConf())
      DeleteApply.withSeq(
        manifestScan(spark, fs, posDeletes.map(d => (d.uri, d.bytes)),
          DeleteApply.PositionSchema),
        posDeletes.map(d =>
          DeleteApply.scanUri(fs, new Path(d.uri)) -> d.seq).toMap)
        .select(col("file_path"), col("pos"), col(DeleteApply.SeqCol))
    }
    val dvDel = Option.when(dvs.nonEmpty)(dvRows(spark, dvs))
    (parquetDel.toSeq ++ dvDel.toSeq).reduce(_ unionByName _)
  }

  /** Deletion vectors decoded EXECUTOR-side into the position-delete
    * row shape (file_path, pos, delete seq) — one task per blob; a DV
    * is the spec's compressed position-delete encoding, so downstream
    * treats both kinds identically. */
  private def dvRows(spark: SparkSession, dvs: Seq[DvRef]): DataFrame = {
    val bc = shippedConf(spark)
    val rdd = spark.sparkContext.parallelize(dvs,
      math.max(1, math.min(dvs.size, 256))).flatMap { dv =>
        Puffin.readDv(bc.value.value, dv.uri, dv.offset, dv.length)
          .map(pos => Row(dv.dataFileUri, pos, dv.seq))
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("file_path", StringType),
      StructField("pos", LongType),
      StructField(DeleteApply.SeqCol, LongType))))
  }

  /** EXACT `COUNT(*)` of the resolved snapshot WITHOUT opening any data
    * file — the Iceberg "count from manifests" answer external engines
    * give the reference's headline check
    * (/root/reference/README.md:121-126). Sum of live-file
    * `record_count`s minus the tombstones that apply to them:
    *
    *   - no live deletes → a pure driver-side manifest sum;
    *   - position deletes / deletion vectors → one metadata-scale job
    *     over the DELETE files only (parquet position rows + DV blob
    *     decodes), counting DISTINCT applying (file, pos) pairs — exact
    *     under duplicate tombstones across delete files AND under a DV
    *     that merged (but did not physically supersede) older parquet
    *     position deletes of the same file;
    *   - live EQUALITY deletes → None (their match set is only knowable
    *     against the data rows; callers fall back to the scan).
    *
    * At 100 TB the difference is manifests + kilobyte-scale tombstone
    * files vs a full-table scan job. */
  def countExact(spark: SparkSession, tableLocation: String,
      at: Option[String] = None): Option[Long] = {
    val p = plan(spark, tableLocation, at)
    val (eqDeletes, posDeletes) =
      p.deletes.partition(_.equalityCols.isDefined)
    if (eqDeletes.nonEmpty) return None
    val total = p.files.map(_.rows).sum
    if (posDeletes.isEmpty && p.dvs.isEmpty) return Some(total)
    // applying tombstone = targets a LIVE file at dseq >= the file's
    // data sequence (the same condition the MOR read applies); the
    // file map is a LocalRelation with accurate stats, so the planner
    // broadcasts it against the delete scan
    val liveSeq = spark.createDataFrame(p.files.map(f => (f.uri, f.seq)))
      .toDF("__ice_target", "__ice_fseq")
    val tombstoned = positionRows(spark, posDeletes, p.dvs)
      .join(liveSeq, col("file_path") === col("__ice_target"))
      .filter(col(DeleteApply.SeqCol) >= col("__ice_fseq"))
      .select("file_path", "pos").distinct().count()
    Some(total - tombstoned)
  }

  /** Read the resolved snapshot as a live DataFrame — one parquet scan,
    * metadata attached by broadcast joins (see the object doc for the
    * scale argument). */
  def read(spark: SparkSession, tableLocation: String,
      at: Option[String] = None): DataFrame = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    // hot path first (ONE metadata parse); the empty-table shape is
    // recognized from plan's own refusal, then re-checked strictly
    try {
      val p = plan(spark, tableLocation, at)
      readPlan(spark, p)
    } catch {
      case e: IllegalStateException if at.isEmpty &&
          e.getMessage != null &&
          e.getMessage.contains("no current snapshot") =>
        // a created-but-never-written table (the catalog-first CREATE
        // shape) reads as ZERO rows of its declared schema — what
        // `SELECT *` right after CREATE returns on a native engine.
        // STRICT: only an EXPLICIT current-snapshot-id -1 with an
        // empty snapshots list qualifies; metadata that merely OMITS
        // the optional field while carrying snapshots is ill-formed
        // for this engine and keeps failing loud (treating it as
        // empty would be a silent zero-row wrong answer).
        val (_, meta, metaFile) = parseMeta(spark, tableLocation)
        val explicitEmpty = (meta \ "current-snapshot-id")
          .extractOpt[Long].contains(-1L) &&
          (meta \ "snapshots").children.isEmpty
        if (!explicitEmpty) throw e
        val curSchemaId = (meta \ "current-schema-id").extractOpt[Int]
          .getOrElse(0)
        val schemaJ = (meta \ "schemas").children.find(s =>
          (s \ "schema-id").extractOpt[Int].contains(curSchemaId))
          .orElse((meta \ "schema").toOption).getOrElse(
            throw new IllegalStateException(s"no schema in $metaFile"))
        val st = org.apache.spark.sql.types.StructType(
          (schemaJ \ "fields").children.map { f =>
            org.apache.spark.sql.types.StructField(
              (f \ "name").extract[String],
              sparkType((f \ "type").extract[String]),
              !(f \ "required").extractOpt[Boolean].getOrElse(false))
          })
        graft.table.GraftTable.emptyFrame(spark, st)
    }
  }

  /** MOR-applied read of a chosen SUBSET of the plan's data files (by
    * manifest URI) — the input side of a foreign compaction: the kept
    * files never enter the scan, while every delete file stays in force
    * so the rewritten rows are exactly the surviving rows of the chosen
    * files. */
  private[iceberg] def readFileSubset(spark: SparkSession,
      tableLocation: String, keep: Set[String]): DataFrame = {
    val p = plan(spark, tableLocation)
    readPlan(spark, p.copy(files = p.files.filter(f => keep(f.uri))))
  }

  /** [[readFileSubset]] WITH v3 row lineage — the input side of a v3
    * compaction: every surviving row carries its preserved
    * [[RowIdCol]] / [[LastUpdSeqCol]] (the file's materialized column
    * when it has one, else first_row_id inheritance + ordinal / the
    * file's data sequence), ready to be re-materialized into the
    * rewrite's output files. */
  private[graft] def readFileSubsetRowLineage(spark: SparkSession,
      tableLocation: String, keep: Set[String]): DataFrame = {
    val p = plan(spark, tableLocation)
    readPlan(spark, p.copy(files = p.files.filter(f => keep(f.uri))),
      rowLineage = true)
  }

  /** Partition-pruned foreign read: only the data files whose manifest
    * identity-partition tuple matches `partitionValues` enter the scan.
    * At 100 TB this is the manifest-level file pruning an Iceberg reader
    * is expected to do — without it every task-scheduling decision and
    * footer open pays for the full file set even when the query wants one
    * partition. Values compare against the TUPLE (string form for
    * strings, JVM externals otherwise); unknown columns fail loud.
    * Equality/position deletes are kept in full — a delete scoped
    * elsewhere simply matches nothing. */
  def readPartition(spark: SparkSession, tableLocation: String,
      partitionValues: Map[String, Any],
      at: Option[String] = None): DataFrame = {
    val p = plan(spark, tableLocation, at)
    val unknown = partitionValues.keySet -- p.identityCols.toSet
    require(unknown.isEmpty,
      s"not identity-partition columns of this table: " +
        s"${unknown.mkString(",")} (have: ${p.identityCols.mkString(",")})")
    val matching = p.files.filter(f => partitionValues.forall {
      case (c, v) => f.identity.get(c).exists(x =>
        String.valueOf(x) == String.valueOf(v))
    })
    readPlan(spark, p.copy(files = matching))
  }

  /** Pick the FILE-side name of each requested field for an id-less
    * read: the field's current name when the footer has it, else the
    * first name-mapping alias the footer carries, else the current name
    * (absent → schema-evolution NULLs). Fails loud on a collision (two
    * fields resolving to one file column). */
  private def plainResolution(p: TablePlan, footerCols: Set[String])
      : Seq[(String, StructField)] = {
    val chosen = p.schema.fields.toSeq.map { f =>
      val fid =
        if (f.metadata.contains(FieldIdKey))
          Some(f.metadata.getLong(FieldIdKey).toInt)
        else None
      val aliases = fid.flatMap(p.nameMapping.get).getOrElse(Seq.empty)
      val name =
        if (footerCols.contains(f.name)) f.name
        else aliases.find(footerCols.contains).getOrElse(f.name)
      (name, f)
    }
    val dup = chosen.groupBy(_._1).filter(_._2.size > 1).keys
    require(dup.isEmpty, "name-mapping collision: file column(s) " +
      s"${dup.mkString(",")} resolve more than one schema field")
    chosen
  }

  /** The MOR-aware foreign read PLUS per-row lineage — every surviving
    * row carries [[LineageFileCol]] (its data file's manifest-form URI)
    * and [[LineagePosCol]] (its ordinal within that file). This is the
    * read [[IcebergWriteBack]] row-level operations build on: a position
    * delete for a surviving row is exactly (file, pos) in the v2 spec's
    * own coordinates. Same plan shape as [[read]] (one parquet scan,
    * broadcast metadata joins); the only extra cost is carrying
    * `_metadata.row_index` through the scan. */
  private[iceberg] def readLineage(spark: SparkSession,
      tableLocation: String, at: Option[String] = None): DataFrame = {
    val p = plan(spark, tableLocation, at)
    require(!p.schema.fieldNames.contains(LineageFileCol) &&
      !p.schema.fieldNames.contains(LineagePosCol),
      s"table schema collides with lineage columns " +
        s"$LineageFileCol/$LineagePosCol")
    readPlan(spark, p, lineage = true)
  }

  /** [[readLineage]] with MANIFEST-BOUNDS FILE PRUNING: data files whose
    * recorded column bounds prove no row can satisfy `prunePredicate`
    * never enter the scan. Unlike [[readWhere]] the predicate is NOT
    * applied row-wise — the caller's own join/filter decides row fate —
    * so this is exactly a scheduling/IO cut: correct whenever the
    * caller only cares about rows that DO satisfy the predicate (a
    * merge batch's key range: pruned files can't hold a matching key).
    * This is the foreign twin of graft's own merge file pruning
    * ([[graft.table.MergeInto]]) — at 100 TB a small upsert batch must
    * not pay a full-tree scan to find its matched rows. */
  private[iceberg] def readLineageWhere(spark: SparkSession,
      tableLocation: String, prunePredicate: Column): DataFrame = {
    val p = plan(spark, tableLocation)
    require(!p.schema.fieldNames.contains(LineageFileCol) &&
      !p.schema.fieldNames.contains(LineagePosCol),
      s"table schema collides with lineage columns " +
        s"$LineageFileCol/$LineagePosCol")
    val preds = boundPreds(org.apache.spark.sql.graftglue.GraftSqlGlue
      .resolvedExpression(prunePredicate), p.schema)
    val kept = p.files.filter(f => preds.forall(pr =>
      mightMatch(f, pr) && tupleMightMatch(f, pr, p.schema)))
    readPlan(spark, p.copy(files = kept), lineage = true)
  }

  private def readPlan(spark: SparkSession, p: TablePlan,
      lineage: Boolean = false, rowLineage: Boolean = false): DataFrame = {
    val lineageFields =
      if (!lineage) Nil
      else List(StructField(LineageFileCol, StringType),
        StructField(LineagePosCol, LongType))
    // v3 row lineage: the scan ALSO requests the reserved materialized
    // columns (null where a file doesn't carry them) and the output
    // computes the spec's fallback per row
    val rowLineageFields =
      if (!rowLineage) Nil
      else List(
        StructField(RowIdCol, LongType, nullable = true,
          new MetadataBuilder().putLong(FieldIdKey, RowIdFieldId)
            .build()),
        StructField(LastUpdSeqCol, LongType, nullable = true,
          new MetadataBuilder().putLong(FieldIdKey, LastUpdSeqFieldId)
            .build()))
    if (rowLineage)
      require(!p.schema.fieldNames.contains(RowIdCol) &&
        !p.schema.fieldNames.contains(LastUpdSeqCol),
        s"table schema collides with row-lineage columns " +
          s"$RowIdCol/$LastUpdSeqCol")
    if (p.files.isEmpty)
      return graft.table.GraftTable.emptyFrame(spark,
        StructType(stripIds(p.schema).fields ++
          rowLineageFields.map(_.copy(metadata = Metadata.empty)) ++
          lineageFields))
    // Per the spec's resolution order, each data file resolves columns
    // BY FIELD ID when it embeds ids (renames and drop+re-add then
    // behave correctly, and int→long physical widening reads through),
    // and by NAME MAPPING / plain name when it doesn't (adopted files).
    // A mixed tree (post-migration: legacy id-less files + new native
    // files) splits into two scans unioned under the current schema.
    // The session conf is one-way enabled; it only changes behavior for
    // requested schemas that CARRY parquet.field.id metadata, so every
    // other read in the session is untouched.
    val (orcFiles, pqFiles) = p.files.partition(_.format == "orc")
    val classes = classifyFiles(spark, pqFiles)
    val idFiles = pqFiles.filter(f => classes(f.uri))
    val plainFiles = pqFiles.filterNot(f => classes(f.uri))
    if (idFiles.nonEmpty) spark.conf.set(FieldIdReadConf, "true")
    val schema = stripIds(p.schema)
    val fs = new Path(p.files.head.uri)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // the URI the Spark scan's _metadata.file_path will report for a
    // manifest URI: the scan opens the manifest string as a path
    def scanUri(uri: String): String = DeleteApply.scanUri(fs, new Path(uri))

    val (eqDeletes, posDeletes) = p.deletes.partition(_.equalityCols.isDefined)
    val needPos = posDeletes.nonEmpty || p.dvs.nonEmpty || lineage ||
      rowLineage

    // per-file lookup: scan uri -> (data sequence, identity tuple values,
    // and — for lineage reads — the file's manifest-form URI)
    val identityCols = p.identityCols.filter(c => schema.fieldNames.contains(c))
    // v3 initial-defaults apply EXACTLY per file — the footer is the
    // physical truth of column presence (a manifest's writer schema is
    // not: re-listed EXISTING entries keep pre-evolution bytes under a
    // post-evolution manifest). Zero cost when the schema carries no
    // defaults; with defaults, one batched footer sniff over the data
    // files (the same footers the scan opens anyway).
    val defFooters: Map[String, FooterInfo] =
      if (p.defaults.isEmpty) Map.empty
      else sniffFooters(spark, pqFiles.map(_.uri).distinct) ++ {
        val conf = spark.sessionState.newHadoopConf()
        orcFiles.map(_.uri).distinct.map(u =>
          u -> orcFooterInfo(conf, u)).toMap
      }
    def lacksColumn(f: DataFileRef, d: DefaultField): Boolean = {
      val fi = defFooters(f.uri)
      !(fi.ids.contains(d.fieldId) ||
        (d.name +: p.nameMapping.getOrElse(d.fieldId, Seq.empty))
          .exists(fi.cols.contains))
    }
    val infoSchema = StructType(
      StructField(FileCol, StringType) ::
        StructField(SeqCol, LongType) ::
        (identityCols.toList.map(c =>
          StructField(s"__ice_part_$c", schema(c).dataType)) ++
          p.defaults.map(d =>
            StructField(s"__ice_def_${d.name}", BooleanType)) ++
          (if (rowLineage)
            List(StructField("__ice_frid", LongType, nullable = true))
           else Nil) ++
          (if (lineage) List(StructField(ManifestUriCol, StringType))
           else Nil)))
    val infoRows = p.files.map { f =>
      Row.fromSeq((scanUri(f.uri) +: f.seq +:
        identityCols.map(c => externalValue(
          f.identity.getOrElse(c, null), schema(c).dataType))) ++
        p.defaults.map(d => lacksColumn(f, d)) ++
        (if (rowLineage) Seq(f.firstRowId.map(Long.box).orNull)
         else Nil) ++
        (if (lineage) Seq(f.uri) else Nil))
    }
    // size-gated: millions of per-file info rows stay unhinted
    val infoBytes = p.files.map(f =>
      2L * f.uri.length + 64L + 32L * identityCols.size).sum
    val info = DeleteApply.gated(spark.createDataFrame(
      infoRows.asJava, infoSchema), infoBytes)

    val metaSel: Seq[Column] =
      col("_metadata.file_path").as(FileCol) ::
        (if (needPos) List(col("_metadata.row_index").as(PosCol)) else Nil)
    val scanSchema = StructType(p.schema.fields ++ rowLineageFields)
    val outCols = schema.fieldNames.toIndexedSeq ++
      rowLineageFields.map(_.name)
    val idScan = Option.when(idFiles.nonEmpty)(
      manifestScan(spark, fs, idFiles.map(f => (f.uri, f.bytes)),
        scanSchema)
        .select(outCols
          .map(c => col(c).as(c, Metadata.empty)) ++ metaSel: _*))
    // name-resolved files group PER MANIFEST (one footer open each):
    // manifests are homogeneous per writer, but DIFFERENT manifests can
    // carry different column-name generations (files adopted before a
    // name-mapping rename vs appended after it) — each group gets its
    // own file-side resolution, so a post-rename append doesn't force
    // pre-rename files to read NULL
    val plainScans = plainFiles.groupBy(_.manifest).toSeq.sortBy(_._1)
      .map { case (_, group) =>
        val resolution = plainResolution(p.copy(schema = scanSchema),
          footerInfo(spark, group.head.uri).cols)
        // id-LESS files read by name at every depth — nested field-id
        // metadata must not reach this request (fieldId.read.enabled
        // errors on an id-carrying schema over an id-less footer)
        val readSchema = StructType(resolution.map { case (n, f) =>
          StructField(n, stripIdsType(f.dataType), nullable = true) }
          .toArray)
        manifestScan(spark, fs, group.map(f => (f.uri, f.bytes)),
          readSchema)
          .select(resolution.map { case (n, f) =>
            col(n).as(f.name) } ++ metaSel: _*)
      }
    // ORC data files: Spark reads ORC natively; resolution is by NAME
    // (no field-id mode exists for ORC), so they follow the id-less
    // path — per-manifest footer-driven name resolution, schema-
    // evolution NULLs for absent columns. Manifest bounds/null-count
    // pruning upstream is format-agnostic (it reads Avro metadata),
    // and EQUALITY deletes compose (value anti-joins need no row
    // ordinals). The pinned blocker for the rest: Spark's ORC source
    // exposes only file-constant _metadata fields (file_path, name,
    // size, block start/length, modification time) — NO row_index
    // (verified empirically on this build; parquet-only per
    // FileFormat.ROW_INDEX wiring) — so POSITION deletes, deletion
    // vectors and (row-)lineage reads cannot be served over ORC rows
    // and refuse loud here instead of mis-reading.
    if (orcFiles.nonEmpty && needPos)
      throw new UnsupportedOperationException(
        "this tree carries ORC data files and the read needs per-row " +
          "positions (position deletes / deletion vectors / lineage) — " +
          "Spark's ORC source exposes no _metadata.row_index, so " +
          "ordinals cannot be reconstructed; compact the table's " +
          "deletes or rewrite its data files to parquet first " +
          s"(${orcFiles.size} ORC file(s), e.g. ${orcFiles.head.uri})")
    val orcScans = orcFiles.groupBy(_.manifest).toSeq.sortBy(_._1)
      .map { case (_, fs0) =>
        val resolution = plainResolution(p.copy(schema = scanSchema),
          orcFooterInfo(spark.sessionState.newHadoopConf(),
            fs0.head.uri).cols)
        val readSchema = StructType(resolution.map { case (n, f) =>
          StructField(n, stripIdsType(f.dataType), nullable = true) }
          .toArray)
        spark.read.schema(readSchema)
          .orc(fs0.map(_.uri): _*)
          .select(resolution.map { case (n, f) =>
            col(n).as(f.name) } ++ metaSel: _*)
      }
    val scans = (idScan.toSeq ++ plainScans ++ orcScans)
      .reduce(_ unionByName _)
    val base = DeleteApply.withFileInfo(scans, info, FileCol, SeqCol)
    // identity columns: the file's own bytes when the writer stored them
    // (Iceberg writers do), the manifest tuple when it didn't (Hive-style
    // layouts like graft's own export)
    val withIdentity = identityCols.foldLeft(base)((d, c) =>
      d.withColumn(c, coalesce(col(c), col(s"__ice_part_$c"))))

    // v3 initial-defaults: only rows of files that physically LACK the
    // column take the default (per-file flag from the footer sniff);
    // the coalesce keeps identity-tuple-provided values, and files that
    // carry the column keep their own bytes including genuine NULLs.
    // Applied BEFORE delete application so an equality delete on a
    // defaulted column compares the value the spec says the row has.
    val withDefaults = p.defaults.foldLeft(withIdentity)((d, df) =>
      d.withColumn(df.name, when(col(s"__ice_def_${df.name}"),
        coalesce(col(df.name), lit(df.value).cast(df.dataType)))
        .otherwise(col(df.name))))

    // equality deletes: ONE delete side per (key-column set × scope
    // SHAPE) — scope/transform tuple VALUES ride as columns of the side,
    // so a bucket[128] Flink-CDC tree plans one anti-join for its key
    // set, not 128. Keys and identity scopes match with `<=>`; hidden-
    // transform scopes evaluate the spec's transform over each data row
    // ([[foreignTransformCol]]). Delete footers are sniffed in one
    // batched pass and each read sub-batch resolves by its OWN footer.
    val eqFooters = sniffFooters(spark, eqDeletes.map(_.uri).distinct)
    val equality = eqDeletes
      .groupBy(d => (d.equalityCols.get, d.scope.keys.toSeq.sorted,
        d.transformScope.map { case (c, tr, _) => (c, tr) }))
      .toSeq.map { case ((cols, scopeCols, tShape), ds) =>
          val tTypes = tShape.map { case (c, tr) =>
            require(schema.fieldNames.contains(c),
              s"transform scope source column $c not in schema")
            transformResultType(tr, schema(c).dataType)
          }
          // one parquet scan per (tuple values × footer shape), each
          // row tagged with its own file's sequence: files sharing both
          // share one scan; id-ful delete files read by field id,
          // id-less ones by name mapping / plain name (e.g. graft's
          // export writes id-less delete parquet)
          val del = ds.groupBy(d => (scopeCols.map(c => d.scope(c)),
              d.transformScope.map(_._3), eqFooters(d.uri)))
            .toSeq.sortBy(_._2.head.uri)
            .map { case ((sVals, tVals, fi), group) =>
              val (delSchema, delNames) =
                if (fi.hasIds)
                  (StructType(cols.map(c => p.schema(c)).toArray), cols)
                else {
                  val res = plainResolution(
                    p.copy(schema = StructType(
                      cols.map(c => p.schema(c)).toArray)), fi.cols)
                  (StructType(res.map { case (n, f) =>
                    StructField(n, stripIdsType(f.dataType),
                      nullable = true) }
                      .toArray),
                    res.map(_._1))
                }
              DeleteApply.withSeq(
                manifestScan(spark, fs, group.map(d => (d.uri, d.bytes)),
                  delSchema),
                group.map(d => scanUri(d.uri) -> d.seq).toMap)
                .select(delNames.zip(cols).map { case (n, c) =>
                  col(n).as(s"__ice_del_$c") } ++
                  scopeCols.zip(sVals).map { case (c, v) =>
                    lit(externalValue(v, schema(c).dataType))
                      .cast(schema(c).dataType).as(s"__ice_sc_$c") } ++
                  tVals.zip(tTypes).zipWithIndex.map {
                    case ((v, t), i) =>
                      lit(v).cast(t).as(s"__ice_ts_$i") } :+
                  col(DeleteApply.SeqCol): _*)
            }.reduce(_ unionByName _)
          DeleteApply.Equality(del, ds.map(_.bytes).sum, (data, del) =>
            (cols.map(c => data(c) <=> del(s"__ice_del_$c")) ++
              scopeCols.map(c => data(c) <=> del(s"__ice_sc_$c")) ++
              // hidden-transform scope: T(sourceCol) <=> tuple value —
              // the delete only matches rows inside its own partition
              tShape.zipWithIndex.map { case ((c, tr), i) =>
                foreignTransformCol(tr, data(c), schema(c).dataType) <=>
                  del(s"__ice_ts_$i")
              }).reduce(_ && _))
      }
    val positions = Option.when(posDeletes.nonEmpty || p.dvs.nonEmpty)(
      DeleteApply.Positions(positionRows(spark, posDeletes, p.dvs),
        posDeletes.map(_.bytes).sum + p.dvs.map(_.length).sum,
        p.files.map(f => (f.uri, scanUri(f.uri)))))
    val afterPos = DeleteApply(withDefaults, FileCol, PosCol, SeqCol,
      equality, positions)
    // v3 row lineage: materialized column wins (a rewrite wrote the
    // row's preserved id), else the spec's inheritance fallback —
    // file.first_row_id + ordinal for the id (null on pre-lineage
    // manifests), the file's data sequence for last-updated
    val withRowLineage =
      if (!rowLineage) afterPos
      else afterPos
        .withColumn(RowIdCol,
          coalesce(col(RowIdCol), col("__ice_frid") + col(PosCol)))
        .withColumn(LastUpdSeqCol,
          coalesce(col(LastUpdSeqCol), col(SeqCol)))
    // explicit empty-metadata aliases drop the field-id markers from the
    // result columns so downstream consumers (graft create/append schema
    // storage) see a plain schema; nested types (structs, and structs
    // inside lists/maps) additionally cast to their stripped twin — the
    // alias clears only TOP-level metadata, nested ids live inside the
    // dataType itself (`schema` here is already stripped, so the cast
    // target is plain; the SCAN's column still carries the ids)
    def hasStruct(t: DataType): Boolean = t match {
      case _: StructType => true
      case ArrayType(e, _) => hasStruct(e)
      case MapType(k, v, _) => hasStruct(k) || hasStruct(v)
      case _ => false
    }
    def plainCol(c: String): Column = {
      val cleaned = schema.find(_.name == c).map(_.dataType) match {
        case Some(dt) if hasStruct(dt) => col(c).cast(dt)
        case _ => col(c)
      }
      cleaned.as(c, Metadata.empty)
    }
    withRowLineage.select((schema.fieldNames.toIndexedSeq ++
      rowLineageFields.map(_.name))
      .map(plainCol) ++
      (if (lineage) Seq(col(ManifestUriCol).as(LineageFileCol),
        col(PosCol).cast(LongType).as(LineagePosCol)) else Nil): _*)
  }

  /** ORPHAN-file inspection for a foreign tree: every file under
    * `data/` that NO snapshot's manifests reference (typically debris of
    * failed/aborted commits, or files stranded when [[IcebergWriteBack
    * .expireSnapshots]] dropped the only snapshots referencing them).
    * LISTING ONLY — on a SHARED tree another engine may be mid-commit,
    * so deletion is deliberately left to the operator, guarded by
    * `olderThanMs` (candidates must be older; an in-flight writer's
    * fresh files never appear). Reference walk covers every snapshot,
    * every manifest, BOTH content kinds, and status=DELETED entries
    * (an older snapshot may still read them). Driver cost: the same
    * manifest walk any full-history planner pays; the path set is
    * O(total files) strings. */
  def orphanFiles(spark: SparkSession, tableLocation: String,
      olderThanMs: Long = Long.MaxValue): DataFrame = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    import spark.implicits._
    val (fs, meta, _) = parseMeta(spark, tableLocation)
    val referenced = scala.collection.mutable.Set.empty[String]
    def norm(uri: String): String =
      fs.makeQualified(new Path(uri)).toString
    (meta \ "snapshots").children.foreach { s =>
      val mfs: Seq[String] = (s \ "manifest-list").extractOpt[String] match {
        case Some(listUri) => readAvro(fs, listUri)
          .map(r => String.valueOf(r.get("manifest_path")))
        case None => (s \ "manifests").children.map(_.extract[String])
      }
      mfs.foreach { m =>
        readAvro(fs, m).foreach { e =>
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          referenced += norm(String.valueOf(df.get("file_path")))
        }
      }
    }
    val dataDir = new Path(tableLocation, "data")
    val found = Seq.newBuilder[(String, Long, Long)]
    if (fs.exists(dataDir)) {
      val it = fs.listFiles(dataDir, true)
      while (it.hasNext) {
        val st = it.next()
        val name = st.getPath.getName
        // skip hidden/marker files (.crc sidecars, _SUCCESS) — the same
        // convention every Hadoop/Spark reader applies
        if (st.isFile && !name.startsWith(".") && !name.startsWith("_") &&
            st.getModificationTime < olderThanMs &&
            !referenced.contains(norm(st.getPath.toString)))
          found += ((st.getPath.toString, st.getLen,
            st.getModificationTime))
      }
    }
    found.result().toDF("path", "bytes", "modified_ms")
  }

  /** Incremental foreign-table FOLLOW — Iceberg's incremental append
    * scan, hand-walked: the rows added by the snapshot range
    * `(sinceSnapshotId, target]`, where target is `at` (ref/id) or the
    * current snapshot. This is how the reference's bronze→silver loop
    * tails an Iceberg table another engine keeps appending to
    * (/root/reference/bronze-silver.py:132,146-149) without re-reading
    * the whole table each cycle.
    *
    * Semantics and refusals (all fail-loud, mirroring both Iceberg's
    * incremental append scan and graft's own snapshot-range scan):
    *   - `sinceSnapshotId` must be an ANCESTOR of the target (walked via
    *     parent-snapshot-id); diverged branches don't difference;
    *   - every snapshot in the range must be an `append` — an overwrite /
    *     delete / replace (compaction) cannot be expressed as an append
    *     delta, so the caller must fall back to a full re-import (graft's
    *     incremental scan refuses to cross compactions the same way);
    *   - v2 trees only: the delta is selected by data sequence number
    *     (`fileSeq > seq(since)`), which v1 trees don't carry.
    *
    * No delete application is needed by construction: every delete file
    * in the tree has `seq <= seq(since)` (later deletes would have failed
    * the append-only check), and the v2 ordering rules
    * (`deleteSeq > dataSeq` / `posSeq >= dataSeq`) make such deletes
    * no-ops against files with `seq > seq(since)`. */
  def readChanges(spark: SparkSession, tableLocation: String,
      sinceSnapshotId: Long, at: Option[String] = None,
      skipRewrites: Boolean = false): DataFrame = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val (_, meta, metaFile) = parseMeta(spark, tableLocation)
    require((meta \ "format-version").extractOpt[Int]
      .exists(v => v == 2 || v == 3),
      s"incremental import needs a v2/v3 tree (sequence numbers): " +
        s"$metaFile")
    val snaps: Map[Long, JValue] = (meta \ "snapshots").children.map(s =>
      (s \ "snapshot-id").extract[Long] -> s).toMap
    require(snaps.contains(sinceSnapshotId),
      s"since-snapshot $sinceSnapshotId not in $metaFile (expired? " +
        "fall back to a full import)")
    val p = plan(spark, tableLocation, at) // also resolves refs/current
    // walk target → since via parent ids, validating the range's ops
    var cur = p.snapshotId
    val rangeOps = Seq.newBuilder[(Long, String)]
    while (cur != sinceSnapshotId) {
      val s = snaps.getOrElse(cur, throw new IllegalStateException(
        s"snapshot $cur missing from $metaFile during lineage walk"))
      rangeOps += cur -> (s \ "summary" \ "operation").extractOpt[String]
        .getOrElse("unknown")
      cur = (s \ "parent-snapshot-id").extractOpt[Long].getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $sinceSnapshotId is not an ancestor of " +
            s"${p.snapshotId} — diverged history, full re-import needed"))
    }
    // data-CHANGING ops can never be expressed as an append delta; a
    // `replace` (compaction — same logical rows) is refusable by default
    // but skippable with skipRewrites (Iceberg's
    // streaming-skip-overwrite-snapshots semantics)
    val blocked = rangeOps.result().filterNot { case (_, op) =>
      op == "append" || (skipRewrites && op == "replace") }
    require(blocked.isEmpty,
      s"snapshot range ($sinceSnapshotId, ${p.snapshotId}] contains " +
        s"non-append commits ${blocked.map { case (id, op) =>
          s"$id:$op" }.mkString(", ")} — an incremental append delta " +
        "cannot express them; run a full import of the target snapshot" +
        (if (!skipRewrites && blocked.forall(_._2 == "replace"))
          " (or pass skipRewrites=true: replace commits keep the same " +
            "logical rows and can be skipped)" else ""))
    if (rangeOps.result().exists(_._2 == "replace")) {
      // rewrites in range: sequence numbers no longer separate "new
      // rows" from "rewritten old rows". Attribute files per APPEND
      // snapshot instead: diff each append's file set against its
      // parent's — the originally-appended files stay on disk (expire
      // hasn't run inside the range), so the delta reads the original
      // bytes even when a later compaction rewrote them.
      val ordered = rangeOps.result().reverse // oldest → newest
      var prev = plan(spark, tableLocation,
        Some(sinceSnapshotId.toString)).files.map(_.uri).toSet
      val delta = Seq.newBuilder[DataFileRef]
      ordered.foreach { case (sid, op) =>
        val pf = plan(spark, tableLocation, Some(sid.toString))
        if (op == "append")
          delta ++= pf.files.filterNot(f => prev.contains(f.uri))
        prev = pf.files.map(_.uri).toSet
      }
      readPlan(spark, p.copy(files = delta.result(), deletes = Seq.empty))
    } else {
      val sinceSeq = (snaps(sinceSnapshotId) \ "sequence-number")
        .extractOpt[Long].getOrElse(0L)
      val added = p.files.filter(_.seq > sinceSeq)
      require(p.deletes.forall(_.seq <= sinceSeq),
        "append-only range cannot carry new delete files (corrupt tree?)")
      readPlan(spark, p.copy(files = added, deletes = Seq.empty))
    }
  }

  /** Row-level CHANGELOG between two snapshots of a foreign table —
    * the `create_changelog_view` shape for ARBITRARY ranges (merges,
    * deletes, overwrites included), complementing [[readChanges]]'s
    * metadata-only append fast path: `_change_type` = 'insert' for rows
    * in `to` but not `from`, 'delete' for rows in `from` but not `to`
    * (bag semantics — multiset difference — so duplicate-row
    * multiplicity diffs correctly; an in-place value update appears as
    * delete+insert, Iceberg's pre/post-update image pair).
    *
    * Scale shape (two stacked prunings over the old
    * two-exceptAll form, which scanned each full state twice through
    * two separate full-row shuffles):
    *   - FILE pruning, plan-time: a data file present in BOTH
    *     snapshots with the same applicable delete/DV set contributes
    *     identical rows to both states — its rows can only net to
    *     zero, so it is dropped from both scans before any IO. A diff
    *     across rewriting commits then reads O(touched files), not
    *     O(2 × table state) (guide §6 / §2.3: don't shuffle bytes you
    *     can prove cancel).
    *   - ONE shuffle, both directions: the surviving rows are
    *     sign-tagged (+1 post, −1 pre) and net-counted in a single
    *     hash aggregate ([[netDiff]]); net>0 rows replicate as
    *     inserts, net<0 as deletes — bit-identical bag semantics to
    *     exceptAll (which Catalyst itself lowers to exactly this
    *     sum-of-signs aggregate, but once PER DIRECTION over a
    *     re-scan of both inputs). Halves both the scan count and the
    *     shuffled bytes (guide §1.2). */
  def diff(spark: SparkSession, tableLocation: String,
      fromSnapshot: Long, to: Option[String] = None): DataFrame = {
    val preP = plan(spark, tableLocation, Some(fromSnapshot.toString))
    val postP = plan(spark, tableLocation, to)
    // Applicable-delete identity per (side, file), over-approximated by
    // the reader's own sequence rules (equality: dseq > fseq; position:
    // dseq >= fseq; DVs name their data file). Partition scope is
    // deliberately ignored: scope filtering is a deterministic function
    // of (file, delete), so equal over-approximations imply equal
    // actual sets — the pruning is conservative, never wrong.
    def appDeletes(p: TablePlan, f: DataFileRef)
        : (Set[(String, Long)], Set[String]) = (
      p.deletes.filter(d =>
        if (d.equalityCols.isDefined) d.seq > f.seq else d.seq >= f.seq)
        .map(d => (d.uri, d.seq)).toSet,
      p.dvs.filter(_.dataFileUri == f.uri)
        .map(d => s"${d.uri}:${d.offset}:${d.length}").toSet)
    val preByUri = preP.files.map(f => f.uri -> f).toMap
    val postByUri = postP.files.map(f => f.uri -> f).toMap
    // manifest path excluded from identity: rewrite_manifests re-lists
    // the same file under a new manifest without changing its rows
    def unchanged(uri: String): Boolean =
      (preByUri.get(uri), postByUri.get(uri)) match {
        case (Some(a), Some(b)) =>
          a.copy(manifest = "") == b.copy(manifest = "") &&
            appDeletes(preP, a) == appDeletes(postP, b)
        case _ => false
      }
    val pre = readPlan(spark,
      preP.copy(files = preP.files.filterNot(f => unchanged(f.uri))))
    val post = readPlan(spark,
      postP.copy(files = postP.files.filterNot(f => unchanged(f.uri))))
    graft.util.NetDiff.netDiff(post, pre)
  }

  /** Per-COMMIT changelog over `(fromSnapshot, target]` — Iceberg's
    * `create_changelog_view` shape: every row is tagged with the commit
    * that produced it (`_commit_snapshot_id`) and the commit's position
    * in the range (`_change_ordinal`, oldest = 0), unlike [[diff]]'s
    * endpoint-net view where an insert-then-delete inside the range
    * cancels out. Per-commit costs, by the commit's stamped operation:
    *   - `append`  → metadata-only: the files this snapshot added over
    *     its parent (file-set diff), read raw — no shuffle, no second
    *     scan. Pre-existing deletes never apply to newer data files
    *     (v2 sequence ordering), so raw bytes ARE the insert delta.
    *   - `replace` → emits nothing (a compaction keeps the same logical
    *     rows); it still consumes an ordinal so positions stay aligned
    *     with the snapshot lineage.
    *   - anything else (`overwrite`/`delete`) → an honest two-snapshot
    *     [[diff]] against the commit's parent: updates appear as the
    *     pre-image delete + post-image insert pair at that ordinal.
    * Commits are unioned by name (missing columns null-padded), so a
    * mid-range schema evolution renders each commit in its own schema.
    * At 100 TB: appends — the common tail case — stay metadata-only;
    * only genuinely rewriting commits pay a diff, each over just the
    * two adjacent states. */
  def diffPerCommit(spark: SparkSession, tableLocation: String,
      fromSnapshot: Long, to: Option[String] = None): DataFrame = {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val (_, meta, metaFile) = parseMeta(spark, tableLocation)
    val snaps: Map[Long, JValue] = (meta \ "snapshots").children.map(s =>
      (s \ "snapshot-id").extract[Long] -> s).toMap
    require(snaps.contains(fromSnapshot),
      s"since-snapshot $fromSnapshot not in $metaFile (expired? " +
        "fall back to a full import)")
    val target = plan(spark, tableLocation, to)
    var cur = target.snapshotId
    val walk = List.newBuilder[(Long, String)]
    while (cur != fromSnapshot) {
      val s = snaps.getOrElse(cur, throw new IllegalStateException(
        s"snapshot $cur missing from $metaFile during lineage walk"))
      walk += cur -> (s \ "summary" \ "operation").extractOpt[String]
        .getOrElse("unknown")
      cur = (s \ "parent-snapshot-id").extractOpt[Long].getOrElse(
        throw new IllegalArgumentException(
          s"snapshot $fromSnapshot is not an ancestor of " +
            s"${target.snapshotId} — diverged history, use diff() " +
            "against an explicit target"))
    }
    val ordered = walk.result().reverse // oldest → newest
    var prevFiles = plan(spark, tableLocation,
      Some(fromSnapshot.toString)).files.map(_.uri).toSet
    var prevSid = fromSnapshot
    val parts = ordered.zipWithIndex.flatMap { case ((sid, op), ord) =>
      val pf = plan(spark, tableLocation, Some(sid.toString))
      val out = op match {
        case "append" =>
          val added = pf.files.filterNot(f => prevFiles.contains(f.uri))
          Some(readPlan(spark, pf.copy(files = added, deletes = Seq.empty))
            .withColumn("_change_type", lit("insert")))
        case "replace" => None
        case _ => Some(diff(spark, tableLocation, prevSid,
          Some(sid.toString)))
      }
      prevFiles = pf.files.map(_.uri).toSet
      prevSid = sid
      out.map(_.withColumn("_change_ordinal", lit(ord))
        .withColumn("_commit_snapshot_id", lit(sid)))
    }
    parts match {
      case Nil => read(spark, tableLocation, to).limit(0)
        .withColumn("_change_type", lit(""))
        .withColumn("_change_ordinal", lit(0))
        .withColumn("_commit_snapshot_id", lit(0L))
      case head :: tail => tail.foldLeft(head)(
        _.unionByName(_, allowMissingColumns = true))
    }
  }

  /** Tail a foreign table INTO a graft table: append the
    * `(since, target]` delta resolved by [[readChanges]] as one graft
    * append commit. Returns the destination's new snapshot id. */
  def importChangesInto(spark: SparkSession, tableLocation: String,
      dest: GraftTable, sinceSnapshotId: Long,
      at: Option[String] = None): Long = {
    dest.append(readChanges(spark, tableLocation, sinceSnapshotId, at))
    dest.latestSnapshotId.get
  }

  /** Materialize a foreign Iceberg snapshot INTO a graft table, so the
    * engine's whole surface (merge, time travel, rollup maintenance,
    * changelog, compaction) runs over it. One append commit; identity
    * partition columns become graft identity partitions by default, so
    * the imported layout keeps its dir pruning. A data copy is the honest
    * contract here: graft snapshots reference table-relative paths (the
    * relocatable-table invariant, [[graft.table.Snapshot]]), and graft
    * commits could not mutate foreign-owned files anyway. For a no-copy
    * live view, use [[read]]. */
  def importInto(spark: SparkSession, tableLocation: String,
      destLocation: String, at: Option[String] = None,
      parts: Option[Seq[String]] = None): GraftTable = {
    val pl = plan(spark, tableLocation, at)
    val t = GraftTable(spark, destLocation)
    t.append(readPlan(spark, pl),
      parts = parts.getOrElse(pl.identityCols))
    t
  }
}
