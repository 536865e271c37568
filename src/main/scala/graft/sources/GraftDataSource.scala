package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, BindReferences, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.StructType

import graft.table.GraftTable

/** `spark.read.format("graft")` / `df.write.format("graft")` — the
  * Delta-style source integration for graft tables: a custom [[FileIndex]]
  * resolves the live file set from the snapshot log (with time-travel and
  * incremental options) and hands it to Spark's vectorized Parquet reader
  * through HadoopFsRelation, so predicate pushdown, column pruning,
  * partition pruning, and whole-stage codegen all apply unchanged.
  *
  * Read options (mirroring Iceberg's read options,
  * /root/reference/bronze-silver.py:146-149):
  *   - `snapshotId`        time travel to a snapshot
  *   - `startSnapshotId` / `endSnapshotId`  incremental append range
  *     (start exclusive, end inclusive; end defaults to latest)
  *   - `tag` / `branch`    read a named ref (tag: pinned snapshot;
  *     branch: the branch chain's tip)
  *
  * Writes: SaveMode.Append / Overwrite commit through the snapshot log;
  * `partitionCols` option ("a,b") sets the layout on first write.
  */
class GraftDataSource extends RelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider {

  override def shortName(): String = "graft"

  // ---- streaming source: spark.readStream.format("graft").load(path) ----

  private def tableFor(spark: SparkSession,
      parameters: Map[String, String]): GraftTable = {
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path"))
    val table = GraftTable(spark, path)
    require(table.exists, s"no graft table at $path")
    table
  }

  override def sourceSchema(ctx: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), tableFor(ctx.sparkSession, parameters).schema)

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new graft.streaming.GraftStreamSource(ctx.sparkSession,
      tableFor(ctx.sparkSession, parameters).location,
      parameters.get("skipRewrites").exists(_.toBoolean))

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = ctx.sparkSession
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path"))
    val mainTable = GraftTable(spark, path)
    require(mainTable.exists, s"no graft table at $path")
    // option("branch", name): resolve the whole read (files, schema,
    // stats) against the branch's chain instead of main's
    val table = parameters.get("branch")
      .map(mainTable.branch).getOrElse(mainTable)

    // ONE view of the log for the whole relation — files, schema, spec,
    // stats and tombstones. Historical reads resolve under the schema
    // their snapshot was committed under, as Iceberg does — never the
    // latest schema
    val cur = table.state()
    val (st, files) = parameters.get("startSnapshotId") match {
      case Some(start) =>
        val end = parameters.get("endSnapshotId").map(_.toLong)
          .orElse(cur.tipId).getOrElse(0L)
        (cur.at(Some(end)),
          table.incrementalFiles(cur, start.toLong, end, skipRewrites = false))
      case None =>
        val at = cur.at(parameters.get("snapshotId").map(_.toLong)
          // option("tag", name): read the snapshot a named ref pins
          .orElse(parameters.get("tag").map(t => cur.refs.getOrElse(t,
            throw new IllegalArgumentException(
              s"no tag '$t' on $path — known tags: " +
                cur.refs.keys.toSeq.sorted.mkString(", "))))))
        (at, at.liveFiles)
    }

    // a HadoopFsRelation is a bare file scan — it cannot apply MOR
    // equality-delete tombstones, so refuse rather than resurrect
    // deleted rows (compaction folds tombstones and re-enables this path)
    require(st.applicableDeletes(files).isEmpty,
      s"graft table at $path has merge-on-read delete files applying to " +
        "this read; the format(\"graft\") scan cannot merge tombstones — " +
        "read via GraftTable.read()/readAsOf(), or run compact() to fold " +
        "them into data files first")
    GraftFileIndex.relation(spark, st, files, parameters)
  }

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft source requires a path"))
    val table = GraftTable(spark, path)
    // transform-aware split: "days(ts),bucket(16, id)" keeps the comma
    // inside bucket(...) intact
    val parts = parameters.get("partitionCols")
      .map(graft.table.PartitionTransforms.splitSpecs)
      .getOrElse(Seq.empty)
    val evolve = parameters.get("mergeSchema").exists(_.toBoolean)
    val sortBy = parameters.get("sortBy")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    mode match {
      case SaveMode.Append =>
        table.append(data, parts, mergeSchema = evolve, sortBy = sortBy)
      case SaveMode.Overwrite => table.overwrite(data, parts)
      case SaveMode.ErrorIfExists =>
        if (table.exists) throw new IllegalStateException(
          s"graft table already exists: $path")
        table.append(data, parts, mergeSchema = evolve, sortBy = sortBy)
      case SaveMode.Ignore =>
        if (!table.exists)
          table.append(data, parts, mergeSchema = evolve, sortBy = sortBy)
    }
    createRelation(ctx, parameters)
  }
}

object GraftDataSource {
  /** The SQL-surface schema of a graft table: everything nullable.
    * Parquet files CAN hold nulls in a column the declared schema marks
    * non-nullable (a MERGE insert clause that leaves the column
    * unassigned, an evolve null-fill), and scanning such data through a
    * non-nullable read schema makes the vectorized reader return 0/""
    * garbage instead of NULL. Spark's own file-based tables relax the
    * read schema the same way (DataSource.resolveRelation); the session
    * catalog must store the SAME relaxed form or relation re-resolution
    * fails the user-specified-schema equality check. */
  def relaxNullability(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    def relax(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(nullable = true, dataType = relax(f.dataType))))
      case a: ArrayType =>
        a.copy(elementType = relax(a.elementType), containsNull = true)
      case m: MapType =>
        m.copy(valueType = relax(m.valueType), valueContainsNull = true)
      case other => other
    }
    relax(schema).asInstanceOf[StructType]
  }
}

/** FileIndex over a graft snapshot's concrete file list. Partition pruning
  * happens HERE, driver-side against dir-encoded values — files of pruned
  * partitions are never listed to the scan (manifest-style pruning; at
  * 100 TB this is what keeps a partition-filtered query from touching the
  * table's full metadata, let alone its data). Data filters are
  * additionally checked against the snapshot log's per-file column
  * min/max ([[graft.table.FileStats]]), so files whose recorded range
  * cannot satisfy a pushed predicate are skipped BEFORE the scan —
  * Iceberg's manifest-stats skipping. */
class GraftFileIndex(spark: SparkSession, val location: String,
    val files: Seq[String], override val partitionSchema: StructType,
    /** the schema the read resolves under (the as-of schema for time
      * travel) — pushed literals are typed by it */
    schema: StructType,
    spec: Seq[graft.table.PartitionField],
    stats: Map[String, Map[String, graft.table.ColStat]] = Map.empty,
    sizes: Map[String, Long] = Map.empty,
    val rows: Map[String, Long] = Map.empty)
    extends FileIndex {

  private val tablePath = new Path(location)
  private lazy val fs =
    tablePath.getFileSystem(spark.sessionState.newHadoopConf())

  override def rootPaths: Seq[Path] = Seq(tablePath)

  /** (partition values row, (relPath, status) files) groups, resolved
    * once, statuses from the log ([[GraftFileIndex.statuses]]). */
  private lazy val groups: Seq[(InternalRow, Seq[(String, FileStatus)])] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String

    val pathOf = files.map(f => f -> new Path(tablePath, f)).toMap
    val byPath = GraftFileIndex.statuses(fs,
      files.map(f => (pathOf(f), sizes.get(f))))

    files.groupBy(GraftTable.partitionValues).toSeq.map { case (kv, fs_) =>
      val values = InternalRow.fromSeq(partitionSchema.map { field =>
        kv.get(field.name) match {
          case Some(v) if v != "__HIVE_DEFAULT_PARTITION__" =>
            Cast(Literal(UTF8String.fromString(v), StringType),
              field.dataType, Some("UTC")).eval(null)
          case _ => null
        }
      })
      (values, fs_.flatMap(f => byPath.get(pathOf(f)).map(st => (f, st))))
    }
  }

  /** Evaluate the prunable conjunct shapes (attr-vs-literal comparisons
    * and IN) against a per-file `check(attr, cmp, value)` probe; anything
    * else conservatively keeps the file. Attributes are top-level
    * columns OR struct-leaf accesses (GetStructField chains), named by
    * their dotted path — the key [[graft.table.FileStats.leafStatFields]]
    * records nested bounds under. */
  private def filtersMayMatch(dataFilters: Seq[Expression],
      check: (String, String, Any) => Boolean): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    object Attr {
      def unapply(e: Expression): Option[String] = e match {
        case a: AttributeReference => Some(a.name)
        case g: GetStructField =>
          unapply(g.child).map(p => s"$p.${g.extractFieldName}")
        case _ => None
      }
    }
    dataFilters.forall {
      case EqualTo(Attr(n), Literal(v, _)) => check(n, "=", v)
      case EqualTo(Literal(v, _), Attr(n)) => check(n, "=", v)
      case LessThan(Attr(n), Literal(v, _)) => check(n, "<", v)
      case LessThan(Literal(v, _), Attr(n)) => check(n, ">", v)
      case LessThanOrEqual(Attr(n), Literal(v, _)) => check(n, "<=", v)
      case LessThanOrEqual(Literal(v, _), Attr(n)) => check(n, ">=", v)
      case GreaterThan(Attr(n), Literal(v, _)) => check(n, ">", v)
      case GreaterThan(Literal(v, _), Attr(n)) => check(n, "<", v)
      case GreaterThanOrEqual(Attr(n), Literal(v, _)) => check(n, ">=", v)
      case GreaterThanOrEqual(Literal(v, _), Attr(n)) => check(n, "<=", v)
      case In(Attr(n), vs) if vs.forall(_.isInstanceOf[Literal]) =>
        vs.exists(l => check(n, "=", l.asInstanceOf[Literal].value))
      case IsNull(Attr(n)) => check(n, "isnull", null)
      case IsNotNull(Attr(n)) => check(n, "notnull", null)
      case _ => true
    }
  }

  /** Can file `rel` contain rows satisfying every pushed data filter,
    * judged by its recorded column stats? */
  private def statsMayMatch(rel: String, dataFilters: Seq[Expression]): Boolean = {
    val fileStats = stats.getOrElse(rel, Map.empty)
    if (fileStats.isEmpty) return true
    filtersMayMatch(dataFilters, (name, cmp, value) =>
      fileStats.get(name) match {
        // null-count pruning (optimizers inject IsNotNull beside most
        // predicates, so the all-null-file skip fires on ordinary
        // filters too): IS NULL prunes zero-null files; IS NOT NULL
        // prunes files whose every recorded row is null — only with a
        // KNOWN row count, an under-count must never prune
        case Some(cs) if cmp == "isnull" => cs.nulls.forall(_ > 0L)
        case Some(cs) if cmp == "notnull" =>
          rows.get(rel).filter(_ > 0L)
            .forall(n => cs.nulls.forall(_ < n))
        case Some(cs) =>
          graft.table.FileStats.leafType(schema, name) match {
            case Some(dt) =>
              graft.table.FileStats.mayMatch(dt, cs, cmp, value)
            case None => true
          }
        case None => true
      })
  }

  private val hiddenFields = spec.filterNot(_.isIdentity)

  /** Hidden-partitioning dir pruning: map each pushed predicate on a
    * transform SOURCE column through the transform and compare with the
    * file's dir value — days/truncate prune ranges, bucket prunes
    * equality ([[graft.table.PartitionTransforms.mayMatch]]). */
  private def transformsMayMatch(rel: String,
      dataFilters: Seq[Expression]): Boolean = {
    if (hiddenFields.isEmpty) return true
    val kv = GraftTable.partitionValues(rel)
    filtersMayMatch(dataFilters, (name, cmp, value) =>
      hiddenFields.filter(_.source == name).forall { f =>
        (kv.get(f.physName), schema.find(_.name == name)) match {
          case (Some(dir), Some(sf)) => graft.table.PartitionTransforms
            .mayMatch(f, dir, sf.dataType, cmp, value)
          case _ => true
        }
      })
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference}
    val kept =
      if (partitionFilters.isEmpty) groups
      else {
        val idx = partitionSchema.fieldNames.zipWithIndex.toMap
        // bind by NAME: the filter's attributes carry the relation's
        // exprIds, so positional BindReferences can't resolve them here
        val predicate = partitionFilters.reduce(And).transform {
          case a: AttributeReference if idx.contains(a.name) =>
            BoundReference(idx(a.name),
              partitionSchema(a.name).dataType,
              partitionSchema(a.name).nullable)
        }
        groups.filter { case (row, _) => predicate.eval(row) == true }
      }
    kept.map { case (row, relStatuses) =>
      PartitionDirectory(row,
        relStatuses.filter(rs => statsMayMatch(rs._1, dataFilters) &&
            transformsMayMatch(rs._1, dataFilters))
          .map(_._2).toArray)
    }
  }

  override def inputFiles: Array[String] =
    files.map(f => new Path(tablePath, f).toString).toArray

  override def refresh(): Unit = {}

  override def sizeInBytes: Long =
    groups.map(_._2.map(_._2.getLen).sum).sum
}

/** Scans of files the snapshot log (or an Iceberg manifest) describes:
  * the log records each file's path and size and the schema it was
  * written under, so planning needs no listing, no schema inference and
  * no Spark job. [[GraftFileIndex]] (table data) and [[GraftFileIndex.scan]]
  * (tombstones, foreign data and delete files) plan from it. */
object GraftFileIndex {

  /** The relation over `files` of the graft table `st` resolves: its
    * schema relaxed to nullable, its identity partition columns (a
    * hidden-partitioned table is unpartitioned to Spark — the derived dir
    * columns must not leak, and the index prunes dirs through the
    * transforms from the pushed data filters instead), and the index
    * holding the files' recorded stats, sizes and row counts. */
  def relation(spark: SparkSession, st: graft.table.TableState,
      files: Seq[String],
      options: Map[String, String] = Map.empty): HadoopFsRelation = {
    // asNullable: parquet files CAN hold nulls in a column the declared
    // schema marks non-nullable (e.g. a MERGE insert clause that leaves
    // the column unassigned); Spark's own file-based tables relax the
    // read schema the same way (DataSource.resolveRelation)
    val full = GraftDataSource.relaxNullability(st.schema)
    val partCols =
      if (st.hasHiddenPartitions) Seq.empty[String]
      else st.partitionCols.filter(full.fieldNames.contains)
    val partSchema = StructType(partCols.map(full(_)))
    HadoopFsRelation(
      location = new GraftFileIndex(spark, st.table.location, files,
        partSchema, st.schema, st.partitionFields, st.statsFor(files),
        st.bytesFor(files), st.rowsFor(files)),
      partitionSchema = partSchema,
      dataSchema = StructType(full.filterNot(f => partCols.contains(f.name))),
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = options)(spark)
  }

  /** The status of each of `files` (a path and its recorded length, when
    * recorded), keyed by that path. A recorded length SYNTHESIZES the
    * status, so planning touches no filesystem metadata at all (pure
    * manifest planning, the Iceberg property). Files a pre-size manifest
    * left without a length fall back to ONE listStatus per directory, not
    * one getFileStatus RPC per file: at manifest scale (100k files)
    * per-file calls would serialize 100k metadata round-trips into every
    * query's planning. A listed file its directory lacks has no status.
    * Statuses are fs-qualified like listStatus's own results, so
    * `_metadata.file_path` renders the same string whichever branch
    * produced one, the string [[graft.util.DeleteApply.scanUri]] predicts. */
  def statuses(fs: FileSystem,
      files: Seq[(Path, Option[Long])]): Map[Path, FileStatus] = {
    val listed = files.collect { case (p, None) => p }
      .groupBy(_.getParent).flatMap { case (dir, ps) =>
        val byName = ps.map(p => p.getName -> p).toMap
        fs.listStatus(dir).toSeq.flatMap(st =>
          byName.get(st.getPath.getName).map(_ -> st))
      }
    listed ++ files.collect { case (p, Some(len)) =>
      // mtime 0 is fine: nothing in the scan path reads it (splits use
      // path+length; the vectorized reader opens by path)
      p -> new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L,
        fs.makeQualified(p))
    }
  }

  /** A parquet scan of `files` (see [[statuses]]) under `schema`, the
    * schema the log records for them, relaxed to nullable as Spark's own
    * file sources relax it. The relation has no partition columns; its
    * rows carry `_metadata` like any file scan's. A listed file that is
    * missing fails here, as a missing path fails `spark.read`. */
  def scan(spark: SparkSession, fs: FileSystem,
      files: Seq[(Path, Option[Long])], schema: StructType): DataFrame = {
    val byPath = statuses(fs, files)
    val found = files.map { case (p, _) => byPath.getOrElse(p,
      throw new java.io.FileNotFoundException(s"no such file: $p")) }
    val rel = HadoopFsRelation(
      location = new LogFileIndex(found),
      partitionSchema = new StructType(),
      dataSchema = GraftDataSource.relaxNullability(schema),
      bucketSpec = None,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    org.apache.spark.sql.graftglue.GraftSqlGlue.ofRows(spark,
      LogicalRelation(rel, false))
  }
}

/** The [[FileIndex]] of a [[GraftFileIndex.scan]]: fixed statuses, one
  * unpartitioned directory. */
private class LogFileIndex(statuses: Seq[FileStatus]) extends FileIndex {
  override def rootPaths: Seq[Path] = statuses.map(_.getPath.getParent).distinct
  override def partitionSchema: StructType = new StructType()
  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses.toArray))
  override def inputFiles: Array[String] =
    statuses.map(_.getPath.toString).toArray
  override def refresh(): Unit = {}
  override def sizeInBytes: Long = statuses.map(_.getLen).sum
}
