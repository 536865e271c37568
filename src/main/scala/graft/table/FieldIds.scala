package graft.table

import org.apache.spark.sql.types.{ArrayType, DataType, MapType,
  MetadataBuilder, StructField, StructType}

/** Stable per-column field ids, carried in StructField metadata through
  * the snapshot log's schema JSON (they round-trip `StructType.json`
  * losslessly).
  *
  * Two keys are written per field: `graft.field.id` (the engine's
  * identity — survives RENAME COLUMN, never reused after a drop) and
  * `parquet.field.id` (the key Spark's parquet writer emits into file
  * footers when `spark.sql.parquet.fieldId.write.enabled` is on, and
  * the reader matches on when `...read.enabled` is on and the requested
  * schema carries ids — SPARK-38094, the same mechanism Iceberg's Spark
  * integration uses). With ids in both the schema and the files, a
  * rename is a pure metadata commit: reads resolve every file by id, so
  * files written under the old name keep their column — no silent
  * null-fill, no per-file rewrite.
  *
  * Ids are stamped at EVERY depth: named struct fields nested inside
  * structs/arrays/maps carry their own two keys (the parquet writer
  * emits them recursively, so footers identify nested leaves too), and
  * the ANONYMOUS collection slots — a list's element, a map's key and
  * value, which have no StructField to ride on — get ids persisted on
  * the nearest enclosing StructField under [[CollectionIdsKey]] as a
  * JSON object of slot-path → id (paths like "element", "key",
  * "value", "element.element" descend only through collection types;
  * a named struct field below a slot owns its own subtree). Iceberg
  * requires ids for those slots in its schema JSON (spec §Schemas and
  * Data Types), and they must stay STABLE across exports and never be
  * reused by later column adds — so they are allocated once, here,
  * and counted by [[maxId]] exactly like field ids.
  *
  * Tables created before this feature have no ids (schemas are frozen
  * in their snapshot JSON); they keep name-mapped semantics and RENAME
  * stays refused for them until [[GraftTable.retrofitFieldIds]] rewrites
  * their live files with id-stamped footers (retrofitting ids without a
  * rewrite would be unsafe — id-based resolution has no name fallback). */
object FieldIds {

  val GraftKey = "graft.field.id"
  val ParquetKey = "parquet.field.id"
  /** JSON object of collection slot-path → field id, persisted on the
    * nearest enclosing StructField (see object Scaladoc). */
  val CollectionIdsKey = "graft.collection.ids"

  def idOf(f: StructField): Option[Long] =
    if (f.metadata.contains(GraftKey)) Some(f.metadata.getLong(GraftKey))
    else None

  /** The persisted collection-slot ids of a field (empty when none). */
  def collectionIdsOf(f: StructField): Map[String, Long] =
    if (!f.metadata.contains(CollectionIdsKey)) Map.empty
    else {
      import org.json4s._
      org.json4s.jackson.JsonMethods
        .parse(f.metadata.getString(CollectionIdsKey)) match {
          case JObject(kvs) => kvs.collect {
            case (k, JInt(v)) => k -> v.toLong
            case (k, JLong(v)) => k -> v
          }.toMap
          case _ => Map.empty
        }
    }

  /** All TOP-LEVEL fields carry an id — the gate for id-based reads and
    * RENAME (nested ids are an export/footer fidelity concern, not a
    * resolution gate: Spark resolves nested struct fields by id when
    * stamped and structurally otherwise). */
  def hasIds(s: StructType): Boolean =
    s.fields.nonEmpty && s.fields.forall(idOf(_).isDefined)

  private def withId(f: StructField, id: Long): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putLong(GraftKey, id).putLong(ParquetKey, id).build())

  private def withCollectionIds(f: StructField,
      slots: Map[String, Long]): StructField =
    if (slots.isEmpty) f
    else f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(CollectionIdsKey,
        slots.toSeq.sortBy(_._1).map { case (k, v) =>
          "\"" + k + "\":" + v
        }.mkString("{", ",", "}")).build())

  /** Stamp `f` and its whole subtree: own id (kept when present),
    * nested struct fields recursively, collection slots from persisted
    * metadata or freshly allocated. Deterministic DFS order, idempotent
    * (existing ids always win). */
  private def stampDeep(f: StructField, alloc: () => Long): StructField = {
    val withOwn = if (idOf(f).isDefined) f else withId(f, alloc())
    val existing = collectionIdsOf(withOwn)
    val slots = scala.collection.mutable.LinkedHashMap[String, Long]()
    def walk(dt: DataType, path: String): DataType = dt match {
      case st: StructType =>
        StructType(st.fields.map(c => stampDeep(c, alloc)))
      case ArrayType(et, n) =>
        val p = if (path.isEmpty) "element" else s"$path.element"
        slots(p) = existing.getOrElse(p, alloc())
        ArrayType(walk(et, p), n)
      case MapType(kt, vt, n) =>
        val pk = if (path.isEmpty) "key" else s"$path.key"
        val pv = if (path.isEmpty) "value" else s"$path.value"
        slots(pk) = existing.getOrElse(pk, alloc())
        val k2 = walk(kt, pk)
        slots(pv) = existing.getOrElse(pv, alloc())
        MapType(k2, walk(vt, pv), n)
      case other => other
    }
    val newType = walk(withOwn.dataType, "")
    withCollectionIds(withOwn.copy(dataType = newType), slots.toMap)
  }

  /** Every id anywhere in a field's subtree: its own, its collection
    * slots', and (recursively) its nested struct fields'. */
  private[graft] def deepIds(f: StructField): Seq[Long] = {
    def typeIds(dt: DataType): Seq[Long] = dt match {
      case st: StructType => st.fields.toSeq.flatMap(deepIds)
      case ArrayType(et, _) => typeIds(et)
      case MapType(kt, vt, _) => typeIds(kt) ++ typeIds(vt)
      case _ => Seq.empty
    }
    idOf(f).toSeq ++ collectionIdsOf(f).values.toSeq ++
      typeIds(f.dataType)
  }

  /** Strip every id key (own, parquet twin, collection slots) at every
    * depth — the reset before a full ordinal restamp. */
  private[graft] def stripDeep(f: StructField): StructField = {
    def clean(m: org.apache.spark.sql.types.Metadata)
        : org.apache.spark.sql.types.Metadata = {
      val b = new MetadataBuilder().withMetadata(m)
      Seq(GraftKey, ParquetKey, CollectionIdsKey).foreach(b.remove)
      b.build()
    }
    def walkType(dt: DataType): DataType = dt match {
      case st: StructType => StructType(st.fields.map(stripDeep))
      case ArrayType(et, n) => ArrayType(walkType(et), n)
      case MapType(kt, vt, n) => MapType(walkType(kt), walkType(vt), n)
      case other => other
    }
    f.copy(metadata = clean(f.metadata), dataType = walkType(f.dataType))
  }

  /** Fresh schema: top-level ids 1..n in field order, then nested ids
    * (struct leaves at any depth, collection slots) DFS from n+1.
    * A schema whose top level is FULLY id'd is trusted (e.g. createFrom
    * a frame read off another graft table): its ids are kept and only
    * missing nested ids complete (safe at CREATE: the new table starts
    * with zero files, so every footer it ever writes carries the
    * completed stamping). A schema NOT fully id'd restamps from scratch
    * — any partial ids (say, a frame mixing columns read off an id'd
    * table with fresh derived ones) are stripped at every depth first,
    * because keeping some while allocating ordinals for the rest can
    * collide (two columns sharing one id breaks the parquet reader's
    * id-mapping mode). */
  def assign(s: StructType, floor: Long = 0L): StructType = {
    val topDone = if (hasIds(s)) s
      else StructType(s.fields.map(stripDeep).zipWithIndex.map {
        case (f, i) => withId(f, i + 1L)
      })
    // `floor` lets a caller keep fresh allocations above ids HISTORY
    // ever used (retrofit of a top-level-id'd table: a dropped
    // column's id must not resurrect as a nested leaf's)
    var next = math.max(floor, math.max(topDone.fields.flatMap(deepIds)
      .foldLeft(0L)(math.max), topDone.fields.length.toLong))
    def alloc(): Long = { next += 1; next }
    StructType(topDone.fields.map(f => stampDeep(f, () => alloc())))
  }

  /** Ids for appended fields: strictly above `maxUsed`, in order —
    * never reusing a dropped column's id (its bytes live on in old
    * files; reuse would resurrect them under the new column). Nested
    * parts of each appended field stamp DFS after its own id. */
  def extend(fields: Seq[StructField], maxUsed: Long): Seq[StructField] = {
    var next = maxUsed
    def alloc(): Long = { next += 1; next }
    fields.map { f =>
      next = math.max(next, deepIds(f).foldLeft(0L)(math.max))
      stampDeep(f, () => alloc())
    }
  }

  /** Highest id any schema in `schemas` ever used at ANY depth,
    * collection slots included (0 when none). */
  def maxId(schemas: Iterable[StructType]): Long =
    schemas.iterator.flatMap(_.fields).flatMap(deepIds)
      .foldLeft(0L)(math.max)

  /** id → field name lookup for a schema's TOP LEVEL (empty when
    * un-id'd) — the RENAME resolution surface. */
  def byId(s: StructType): Map[Long, String] =
    s.fields.flatMap(f => idOf(f).map(_ -> f.name)).toMap

  /** Every named field at ANY depth carries an id and every collection
    * slot has a persisted id — the gate for nested-id-aware export
    * (and for [[GraftTable.retrofitFieldIds]]'s no-op early return:
    * a top-level-id'd table with un-stamped nested parts still needs
    * the retrofit rewrite). */
  def fullyStamped(s: StructType): Boolean = {
    def fieldOk(f: StructField): Boolean = {
      val slots = collectionIdsOf(f)
      def typeOk(dt: DataType, path: String): Boolean = dt match {
        case st: StructType => st.fields.forall(fieldOk)
        case ArrayType(et, _) =>
          val p = if (path.isEmpty) "element" else s"$path.element"
          slots.contains(p) && typeOk(et, p)
        case MapType(kt, vt, _) =>
          val pk = if (path.isEmpty) "key" else s"$path.key"
          val pv = if (path.isEmpty) "value" else s"$path.value"
          slots.contains(pk) && slots.contains(pv) &&
            typeOk(kt, pk) && typeOk(vt, pv)
        case _ => true
      }
      idOf(f).isDefined && typeOk(f.dataType, "")
    }
    s.fields.nonEmpty && s.fields.forall(fieldOk)
  }
}
