package graft.iceberg

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.avro.Schema
import org.apache.avro.generic.GenericRecord
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, concat, count, encode, hex, lit, max, min}
import org.apache.spark.sql.types.{LongType, StringType, Metadata => SqlMetadata}

/** Iceberg v2 WRITE-BACK: commit changes into a FOREIGN Iceberg tree —
  * the write direction of the multi-engine loop whose read direction is
  * [[IcebergImport]]. The reference's premise is several engines sharing
  * one Iceberg table (/root/reference/README.md:127-197); with import
  * (read/follow/diff/stream) plus this, graft participates in both
  * directions with no Iceberg runtime jar, writing only by the public
  * table spec and leaving every existing snapshot/manifest byte
  * untouched. Three commit shapes:
  *
  *   - [[appendTo]] — one append snapshot: data parquet + one manifest +
  *     carried-forward manifest list + the next metadata.json version;
  *   - [[deleteWhere]] — one `delete` snapshot of v2 POSITION delete
  *     files: the rows matching a predicate in the CURRENT state (MOR —
  *     already-deleted rows never re-match) become (file_path, pos)
  *     tombstones; no data byte is rewritten. Works under ANY partition
  *     spec including hidden transforms — a position delete names exact
  *     files, so no foreign transform ever needs evaluating;
  *   - [[deleteKeys]] — one `delete` snapshot of v2 EQUALITY delete
  *     files: key tuples tombstone every strictly-older row with that
  *     key, with NO table scan — O(keys) cost, the streaming-CDC delete
  *     shape at 100 TB;
  *   - [[mergeInto]] — the reference's headline MERGE
  *     (/root/reference/bronze-silver.py:151-160), run BY graft AGAINST
  *     a foreign table: keyed upsert as ONE `overwrite` snapshot holding
  *     a position-delete manifest (matched target rows) plus a data
  *     manifest (every source row).
  *
  * Contract and refusals (fail-loud, never a silently-wrong tree):
  *   - v2 and v3 trees, non-empty (a current snapshot must exist). On
  *     a v3 tree every commit assigns ROW LINEAGE per the v3 spec
  *     (snapshot first-row-id, per-data-manifest first_row_id, metadata
  *     next-row-id advanced by assigned rows), and position tombstones
  *     are written as DELETION VECTORS ([[newDvManifest]]: merged with
  *     every prior tombstone of their file, superseding old DVs) —
  *     [[deleteWhere]] and position-mode [[mergeInto]] included; v3
  *     forbids new position-delete FILES. Compaction PRESERVES row
  *     lineage by materializing `_row_id` /
  *     `_last_updated_sequence_number` into its output files (readers
  *     prefer the materialized columns over inheritance) and making
  *     first_row_id explicit in rewritten manifests;
  *   - appends (appendTo / mergeInto's insert side) need an
  *     UNPARTITIONED or all-IDENTITY default spec: writing data under a
  *     hidden-transform spec would require evaluating the foreign
  *     transform exactly (any mismatch mis-prunes external readers);
  *     deleteWhere has no such restriction;
  *   - appended frames must carry exactly the current schema's columns
  *     (by name; values are cast to the schema's types);
  *   - a current snapshot holding a v1-style inline `manifests` array is
  *     refused (there is no manifest list to extend).
  *
  * New files follow the TREE's column-resolution convention (one footer
  * sniff): id-ful trees get parquet field ids stamped (data files from
  * the current schema; position-delete files the spec's reserved ids
  * 2147483546/2147483545), id-less trees stay id-less name-resolved —
  * a write-back never flips the tree into the mixed mode that costs
  * readers a distributed footer sniff.
  *
  * Existing manifests are CARRIED FORWARD by reference in the new
  * manifest list (their per-manifest partition summaries are dropped —
  * readers then read those manifests instead of skipping, conservative
  * and correct). Commit ordering per the spec: the new snapshot takes
  * `last-sequence-number + 1` — so a position delete written here
  * applies to every current data file (deleteSeq >= dataSeq) and never
  * to data committed after it; refs.main advances; the snapshot-log
  * appends. The metadata version file is written temp-then-rename and
  * never overwrites an existing version — a concurrent foreign commit
  * surfaces as a loud failure to publish, not a lost update.
  *
  * Scale shape: data and delete writes are ordinary distributed parquet
  * writes (partitionBy for identity specs; delete rows globally sorted
  * by (file, pos) per the spec's recommendation); the matched-row scan
  * behind deleteWhere/mergeInto is [[IcebergImport.readLineage]] — the
  * same one-scan + broadcast-metadata plan as a foreign read. Driver-side
  * work is O(new files) footer reads plus O(existing manifests) list
  * records — never a manifest walk of the table's full file set. */
object IcebergWriteBack {

  import org.json4s._

  /** Parsed-and-validated foreign tree state shared by every commit
    * shape: current snapshot, schema, default spec, and the ids the new
    * commit will take. */
  private case class Tree(fs: FileSystem, meta: JValue, metaFile: Path,
      tableUri: String, tableLocation: String,
      // curId == -1 <=> the table has NO current snapshot yet (a
      // catalog-created empty table awaiting its first append); then
      // oldListUri is None and the commit publishes with no parent
      curId: Long, snapsJ: List[JValue], oldListUri: Option[String],
      curSchemaId: Int, schemaJ: JValue,
      fields: Seq[(String, Int, String)], // (name, field id, iceberg type)
      defaultSpecId: Int, defSpecFields: Seq[JValue],
      specTriples: Seq[(String, String, Int)], // (name, transform, srcId)
      newSeq: Long, newId: Long,
      formatVersion: Int, nextRowId: Long,
      // the ref this commit advances: None = main (current-snapshot-id
      // moves with it); Some(b) = branch b only (main untouched — the
      // write-audit-publish staging shape)
      branch: Option[String] = None,
      // Some((catalog uri, namespace.table)) = the commit publishes
      // through the REST catalog protocol (CommitTableRequest) instead
      // of writing metadata.json — the catalog owns the pointer swap
      catalog: Option[(String, String)] = None) {
    /** Where this commit's manifests and manifest list are written. */
    lazy val dir: IcebergManifests.MetaDir =
      IcebergManifests.MetaDir(fs, tableLocation, tableUri)
    def listSchema: Schema = IcebergManifests.listSchemaFor(formatVersion)
  }

  private def loadTree(spark: SparkSession, tableLocation: String,
      branch: Option[String] = None,
      catalog: Option[(String, String)] = None,
      allowEmpty: Boolean = false): Tree = {
    import org.json4s.jackson.JsonMethods.{compact, render}
    implicit val fmts: Formats = DefaultFormats

    // a catalog-resolved metadata-location is a READ handle for
    // filesystem commits: writing metadata.json past it would bypass
    // the catalog's pointer swap. With `catalog` the handle is exactly
    // right — the commit goes back THROUGH the catalog
    // (CommitTableRequest), which owns the current-version decision.
    require(catalog.isDefined ||
      !tableLocation.endsWith(".metadata.json"),
      "write-back needs the table root directory, not a metadata file " +
        s"(got $tableLocation) — catalog-resolved locations are " +
        "read-only here")
    val (fs, meta, metaFile) =
      IcebergImport.parseMeta(spark, tableLocation)
    val formatVersion = (meta \ "format-version").extractOpt[Int]
      .getOrElse(1)
    require(formatVersion == 2 || formatVersion == 3,
      s"iceberg write-back commits v2 and v3 trees only (got " +
        s"format-version $formatVersion): $metaFile — v1 lacks " +
        "sequence numbers; versions beyond 3 are unknown")
    // v3 row lineage: every commit assigns row ids from the table's
    // next-row-id — a v3 tree without it cannot be committed to without
    // corrupting lineage for native readers, so fail loud
    val nextRowId =
      if (formatVersion < 3) 0L
      else (meta \ "next-row-id").extractOpt[Long].getOrElse(
        throw new IllegalStateException(
          s"v3 tree lacks required next-row-id ($metaFile) — refusing " +
            "to commit: assigned row ids would collide"))
    val curId = branch match {
      case None => (meta \ "current-snapshot-id").extractOpt[Long]
        .filter(_ != -1L).getOrElse {
          // -1 = a created-but-never-written table: the FIRST append is
          // a legal commit (no parent, empty base list) — every other
          // shape needs established state and keeps failing loud
          if (allowEmpty) -1L
          else throw new IllegalStateException(
            s"$metaFile has no current snapshot — this write-back " +
              "shape commits to established tables only")
        }
      case Some(b) =>
        // a branch commit chains on the REF's head, not main's: the ref
        // must pre-exist (create it with createRef / branch_iceberg) and
        // must be a branch — tags are immutable by the spec
        require(b != "main",
          "commit to main by omitting branch, not branch => 'main'")
        (meta \ "refs" \ b) match {
          case JNothing => throw new IllegalArgumentException(
            s"no ref '$b' in $metaFile — create the branch first " +
              "(IcebergWriteBack.createRef / CALL graft.branch_iceberg)")
          case ref =>
            require((ref \ "type").extractOpt[String].contains("branch"),
              s"ref '$b' is a tag — tags are immutable; commits need " +
                "a branch")
            (ref \ "snapshot-id").extract[Long]
        }
    }
    val snapsJ = (meta \ "snapshots").children
    val oldListUri: Option[String] =
      if (curId == -1L) None
      else {
        val curSnap = snapsJ.find(s =>
          (s \ "snapshot-id").extract[Long] == curId).getOrElse(
          throw new IllegalStateException(
            s"current snapshot $curId missing from $metaFile"))
        Some((curSnap \ "manifest-list").extractOpt[String]
          .getOrElse(throw new IllegalArgumentException(
            "current snapshot carries a v1-style inline manifests " +
              "array — no manifest list to extend, write-back refuses")))
      }

    // ---- current schema (names, iceberg field ids, types) ----
    val curSchemaId = (meta \ "current-schema-id").extractOpt[Int]
      .getOrElse(0)
    val schemaJ: JValue = (meta \ "schemas").children.find(s =>
      (s \ "schema-id").extractOpt[Int].contains(curSchemaId))
      .orElse((meta \ "schema").toOption)
      .getOrElse(throw new IllegalStateException(
        s"schema $curSchemaId not found in $metaFile"))
    // nested types (struct/list/map) keep their RAW JSON as the type
    // string — [[sparkTypeOf]] materializes either form, and the
    // schema-evolution ops edit the raw JSON so nesting round-trips
    val fields: Seq[(String, Int, String)] =
      (schemaJ \ "fields").children.map { f =>
        val t = (f \ "type") match {
          case JString(s) => s
          case obj: JObject => compact(render(obj))
          case other => throw new IllegalArgumentException(
            s"unparseable column type in $metaFile: " +
              compact(render(other)))
        }
        ((f \ "name").extract[String], (f \ "id").extract[Int], t)
      }

    // ---- default partition spec fields ----
    val defaultSpecId = (meta \ "default-spec-id").extractOpt[Int]
      .getOrElse(0)
    val defSpecFields: Seq[JValue] = (meta \ "partition-specs").children
      .find(s => (s \ "spec-id").extractOpt[Int].contains(defaultSpecId))
      .map(s => (s \ "fields").children)
      .getOrElse((meta \ "partition-spec").children)
    val specTriples: Seq[(String, String, Int)] = defSpecFields.map(f =>
      ((f \ "name").extract[String], (f \ "transform").extract[String],
        (f \ "source-id").extract[Int]))

    val lastSeq = (meta \ "last-sequence-number").extractOpt[Long]
      .getOrElse(0L)
    val newId = snapsJ.map(s => (s \ "snapshot-id").extract[Long])
      .foldLeft(0L)(math.max) + 1
    // with a catalog handle the caller passed a metadata FILE — new
    // data/manifest files land under the table's declared location
    // (the spec's `location` field), exactly where a native client
    // writes before asking the catalog to swap the pointer
    val tableLoc =
      if (catalog.isEmpty) tableLocation
      else (meta \ "location").extractOpt[String].getOrElse(
        throw new IllegalStateException(
          s"$metaFile declares no table location — catalog-committed " +
            "write-back cannot place data files"))
    val tableUri = fs.makeQualified(new Path(tableLoc)).toString
      .stripSuffix("/")
    Tree(fs, meta, metaFile, tableUri, tableLoc, curId, snapsJ,
      oldListUri, curSchemaId, schemaJ, fields, defaultSpecId,
      defSpecFields, specTriples, lastSeq + 1, newId,
      formatVersion, nextRowId, branch, catalog)
  }

  /** Write `entries`, all ADDED by this commit, as one manifest of
    * `content` (0 data, 1 deletes) filed under spec `specId` (its fields
    * as `specJson`), stamped with the tree's current schema; returns its
    * manifest-list record. */
  private def newManifest(tree: Tree, content: Int, specId: Int,
      specJson: String, schema: Schema,
      entries: Seq[GenericRecord]): GenericRecord = {
    import org.json4s.jackson.JsonMethods.{compact, render}
    val (uri, len) = IcebergManifests.writeManifest(tree.dir, content,
      schema, entries, Map("schema" -> compact(render(tree.schemaJ)),
        "schema-id" -> tree.curSchemaId.toString,
        "partition-spec" -> specJson, "partition-spec-id" -> specId.toString,
        "format-version" -> tree.formatVersion.toString,
        "content" -> (if (content == 0) "data" else "deletes")))
    IcebergManifests.listRecord(tree.listSchema,
      IcebergManifests.ManifestFile(uri, len, specId, content,
        seq = tree.newSeq, minSeq = tree.newSeq,
        addedSnapshotId = tree.newId, addedFiles = entries.size,
        addedRows = entries.map(IcebergManifests.recordCount).sum))
  }

  /** One default-spec field as the writer sees it: `phys` the spec
    * field name, `dirCol` the hive-dir column the write partitions by,
    * `derived` an optional DERIVED value column, `tupleType` the
    * manifest TUPLE value's Spark type, and `dirDecode` an optional
    * exact decoder from the hive-dir string back to the tuple string
    * (identity when absent). */
  private case class SpecWrite(phys: String, dirCol: String,
      derived: Option[Column],
      tupleType: org.apache.spark.sql.types.DataType,
      dirDecode: Option[String => String] = None)

  /** Per default-spec field, how the writer lays it out. Identity
    * fields follow the Hive-style layout (the source column itself
    * moves into the dir; readers coalesce it back from the tuple).
    * HIDDEN TRANSFORMS evaluate the spec's own definition
    * ([[IcebergImport.foreignTransformCol]] — the same Appendix-B
    * hashes / epoch ordinals the eq-delete scoping pins against real
    * foreign layouts), so the source column STAYS in the data file and
    * only the derived value lands in the dir + manifest tuple — a
    * wrong tuple would mis-prune external planners, which is why only
    * exactly-evaluable transforms are accepted: unknown transforms
    * refuse loudly. Truncate-on-STRING values round-trip the hive dir
    * HEX-ENCODED (raw strings are lossy there: Spark's dir escaping
    * leaves '+'/space literal and URL-decoding folds them, and the
    * empty string collides with the null marker) — the dir name is a
    * private staging detail, external readers only ever see the
    * manifest tuple, which `dirDecode` reconstructs exactly. */
  private def specPartition(tree: Tree): Seq[SpecWrite] = {
    val byId = tree.fields.map(f => f._2 -> (f._1, f._3)).toMap
    tree.specTriples.map { case (phys, tr, srcId) =>
      val (srcName, srcT) = byId.getOrElse(srcId,
        throw new IllegalStateException(
          s"spec field $phys references unknown source-id $srcId"))
      require(isScalar(srcT),
        s"spec field $phys is sourced from nested-typed column " +
          s"$srcName — partition sources must be primitive")
      val srcType = IcebergImport.sparkType(srcT)
      tr match {
        case "identity" => SpecWrite(phys, srcName, None, srcType)
        case t if IcebergImport.SupportedTransform.matches(t) =>
          require(!tree.fields.exists(_._1 == phys),
            s"spec field $phys collides with a schema column")
          val derived = IcebergImport.foreignTransformCol(t,
            col(srcName), srcType)
          val tupleType = IcebergImport.transformResultType(t, srcType)
          if (t.startsWith("truncate") &&
              srcType == org.apache.spark.sql.types.StringType)
            // "x"-prefixed hex: the empty string must stay distinct
            // from null (Spark writes BOTH a null and an empty dir
            // value as __HIVE_DEFAULT_PARTITION__); concat propagates
            // null, so only genuine nulls reach the null partition
            SpecWrite(phys, phys,
              Some(concat(lit("x"), hex(encode(derived, "UTF-8")))),
              tupleType, dirDecode = Some(h => new String(
                h.stripPrefix("x").grouped(2)
                  .map(Integer.parseInt(_, 16).toByte)
                  .toArray, StandardCharsets.UTF_8)))
          else SpecWrite(phys, phys, Some(derived), tupleType)
        case other => throw new IllegalArgumentException(
          s"write-back cannot evaluate partition transform $other " +
            s"($phys) exactly — import the table instead")
      }
    }
  }

  /** Should new files carry parquet field ids? A bounded footer sample
    * (ends of the live file set, mirroring the read side's sampling).
    * Field ids are ALWAYS safe for native readers, so the answer is
    * id-ful unless the sampled tree is uniformly id-less (an adopted
    * tree resolving by name, where id-less keeps the tree uniform) —
    * in particular a tree with ZERO live files (fresh or fully deleted)
    * gets ids, where the old first-file sniff defaulted to id-less and
    * strict id-resolving external readers couldn't see the columns. */
  private def treeHasIds(spark: SparkSession, tree: Tree): Boolean = {
    if (tree.curId == -1L) return true // empty: write id-ful files
    // plan via the EXACT metadata file this tree was loaded from — the
    // table root would re-resolve through version-hint.text, which on
    // a catalog-adopted tree points at frozen pre-adoption state (the
    // catalog writes *-rest.metadata.json and never updates the hint)
    // ORC files never carry parquet ids and don't vote — new parquet
    // files from this writer default id-ful on an ORC-only tree
    val files = IcebergImport.plan(spark, tree.metaFile.toString).files
      .filter(_.format == "parquet")
    if (files.isEmpty) true
    else {
      val sample = (files.take(2) ++ files.takeRight(2)).map(_.uri)
        .distinct
      sample.exists(u => IcebergImport.footerInfo(spark, u).hasIds)
    }
  }

  private def idMeta(id: Long): SqlMetadata =
    SqlMetadata.fromJson(s"""{"parquet.field.id": $id}""")

  /** A Tree field's type is a scalar name ("long") or — for nested
    * columns — the raw Iceberg type JSON ("{"type":"list",...}"). */
  private def isScalar(t: String): Boolean = !t.startsWith("{")

  /** Spark type of a Tree field's raw type. Nested types materialize
    * through the import's parser, which stamps nested struct ids as
    * parquet.field.id metadata — right for id-ful writes (footers carry
    * the ids at every depth, matching the tree's other files); id-LESS
    * writes strip with [[IcebergImport.stripIdsType]]. */
  private def sparkTypeOf(t: String, name: String,
      withIds: Boolean): org.apache.spark.sql.types.DataType = {
    val dt =
      if (isScalar(t)) IcebergImport.sparkType(t)
      else IcebergImport.sparkTypeJ(
        org.json4s.jackson.JsonMethods.parse(t), name)
    if (withIds) dt else IcebergImport.stripIdsType(dt)
  }

  /** List the parquet files a write just produced under `dataRel`,
    * returning (table-relative path, hive partition tuple, rows, bytes). */
  private def listWritten(spark: SparkSession, tree: Tree, dataRel: String,
      statFields: Seq[org.apache.spark.sql.types.StructField] = Seq.empty)
      : Seq[(String, Map[String, String], Long, Long,
        Map[String, graft.table.ColStat])] = {
    val listed = graft.table.Staging.walk(tree.fs,
      new Path(tree.tableLocation, dataRel))
      .filter(_._1.endsWith(".parquet"))
    // the SAME footer open yields rows AND per-column stats — the
    // truthful lower/upper/null-count metadata external planners prune
    // by, for free (no second data scan)
    val footers = graft.table.FooterStats.readAll(
      spark.sessionState.newHadoopConf(), listed.map(_._2.getPath),
      statFields)
    listed.zip(footers).map { case ((rel, st), (stats, rows)) =>
      // hive dirs between dataRel and the file name carry the tuple
      val tuple = rel.split("/").dropRight(1).filter(_.contains("="))
        .map { kv =>
          val i = kv.indexOf('=')
          kv.take(i) -> java.net.URLDecoder.decode(kv.drop(i + 1), "UTF-8")
        }.toMap
      (s"$dataRel/$rel", tuple, rows, st.getLen, stats)
    }
  }

  /** Write `df` as new data files under the tree's default (identity)
    * spec and build the data manifest; returns its manifest-list record. */
  /** `extraCols` are MATERIALIZED long columns written beside the
    * schema columns with their reserved field ids — v3 compaction's
    * `_row_id` / `_last_updated_sequence_number` preservation. */
  private def newDataManifest(spark: SparkSession, tree: Tree,
      df: DataFrame, hasIds: Boolean,
      extraCols: Seq[(String, Long)] = Nil): GenericRecord = {
    import org.json4s.jackson.JsonMethods.{compact, render}
    val partSpec = specPartition(tree)
    val partCols = partSpec.map(_.dirCol)

    // ---- align the frame to the schema (names, order, types) ----
    val have = df.columns.toSet
    val want = tree.fields.map(_._1).toSet ++ extraCols.map(_._1)
    require(have == want,
      s"frame columns must match the table schema exactly; " +
        s"missing=${(want -- have).mkString(",")} " +
        s"extra=${(have -- want).mkString(",")}")
    val aligned0 = df.select(tree.fields.map { case (n, id, t) =>
      // nested types: the cast target carries inner struct ids iff the
      // write is id-ful (sparkTypeOf strips otherwise), so footers
      // identify nested leaves exactly like the tree's other files
      val c = col(n).cast(sparkTypeOf(t, n, withIds = hasIds))
      if (hasIds) c.as(n, idMeta(id.toLong)) else c.as(n)
    } ++ extraCols.map { case (n, id) =>
      val c = col(n).cast(LongType)
      if (hasIds) c.as(n, idMeta(id)) else c.as(n)
    }: _*)
    // hidden-transform partition values ride as derived columns that
    // partitionBy consumes into the dirs (the source column stays in
    // the data); identity fields partition by the source column itself
    val aligned = partSpec.foldLeft(aligned0) {
      case (d, SpecWrite(_, byName, Some(c), _, _)) =>
        d.withColumn(byName, c)
      case (d, _) => d
    }
    // ---- write distribution (Iceberg write.distribution-mode=hash) --
    // Without it every input task writes one file into every partition
    // dir it touches — a days×bucket append fed from a wide shuffle
    // bursts into tasks×partitions tiny files per commit at cluster
    // scale. REBALANCE hash-clusters rows on the partition tuple so
    // each tuple lands in (normally) exactly one task; under AQE it
    // additionally coalesces small outputs and SPLITS skewed tuples,
    // so a 100-GB partition value is not pinned to a single writer —
    // the same runtime shape Spark-on-Iceberg gets from
    // write.distribution-mode=hash. SIZE-GATED: below
    // `graft.iceberg.write.rebalanceMinBytes` (64 MB default) the
    // extra shuffle buys nothing — a small commit's file count is
    // bounded by its own size, and the shuffle's stage barrier would
    // tax every micro-batch (measured: the single-hot-value 10× merge
    // ratio rose 1.7 → 2.2 with an unconditional rebalance) — so small
    // frames keep the caller's parallel layout. Unpartitioned writes
    // always keep it (compaction's coalesce bound, a sorted append's
    // clustering).
    val rebalanceMin = spark.conf.getOption(
      "graft.iceberg.write.rebalanceMinBytes")
      .map(_.toLong).getOrElse(64L << 20)
    val distribute = partCols.nonEmpty &&
      aligned.queryExecution.optimizedPlan.stats.sizeInBytes >=
        rebalanceMin
    val distributed =
      if (!distribute) aligned
      else aligned.hint("rebalance", partCols.map(col): _*)

    // ---- distributed data write ----
    // The rebalanced write runs on a CLONED session pinning a smaller
    // AQE advisory partition size: REBALANCE's skew-split carves a hot
    // partition value into (size/advisory) writer tasks, and the 64 MB
    // default leaves a merge whose source lands in ONE value (the
    // single-status upsert shape) nearly serial. 16 MB restores write
    // parallelism for hot values while small outputs still coalesce;
    // cold values stay one-file-per-tuple. The pin lives on the clone
    // (shared context, private conf) so the caller's session is never
    // mutated.
    val writeSpark =
      if (!distribute) spark
      else {
        val s = org.apache.spark.sql.graftglue.GraftSqlGlue
          .cloneSession(spark)
        s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "16m")
        s
      }
    val bound =
      if (!distribute) distributed
      else org.apache.spark.sql.graftglue.GraftSqlGlue
        .ofRows(writeSpark, distributed.queryExecution.logical)
    val dataRel = s"data/graft-append-${UUID.randomUUID()}"
    val outDir = new Path(tree.tableLocation, dataRel)
    val w = bound.write.mode("errorifexists")
      // the UUID-fresh dir is invisible until the metadata publish, so
      // v1's two-phase job commit buys nothing; _SUCCESS is never read
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    if (partCols.nonEmpty) w.partitionBy(partCols: _*)
      .parquet(outDir.toString)
    else w.parquet(outDir.toString)
    // stats only exist for scalar columns (footer min/max/null-counts
    // are per leaf; nested columns simply carry no pruning metadata —
    // the same conservative rule the importer applies on read)
    val leaves = tree.fields.collect { case (n, id, t) if isScalar(t) =>
      (n, id, IcebergImport.sparkType(t)) }
    val files = listWritten(spark, tree, dataRel, leaves.map(l =>
      org.apache.spark.sql.types.StructField(l._1, l._3, nullable = true)))
    require(partCols.isEmpty || files.forall(f =>
      partCols.forall(f._2.contains)),
      "written files lack expected partition dirs (layout drift)")

    // ---- new data manifest ----
    val avroPartFields = partSpec.map(p =>
      p.phys -> IcebergManifests.partitionAvroType(p.tupleType))
    val entrySchema = IcebergManifests.entrySchema(avroPartFields,
      v3 = tree.formatVersion >= 3)
    val entries = files.map { case (rel, tuple, rows, len, stats) =>
      val partition = partSpec.map { p =>
        val raw = tuple(p.dirCol)
        val decoded =
          if (raw == "__HIVE_DEFAULT_PARTITION__") raw
          else p.dirDecode.fold(raw)(_.apply(raw))
        p.phys -> IcebergManifests.partitionValue(decoded, p.tupleType)
      }
      // TRUTHFUL per-file column stats from the footers just written —
      // the pruning metadata every external scan planner reads
      IcebergManifests.addedEntry(entrySchema, tree.newId, tree.newSeq,
        content = 0, s"${tree.tableUri}/$rel", "PARQUET", rows, len,
        partition = partition, leaves = leaves, stats = stats)
    }
    newManifest(tree, 0, tree.defaultSpecId,
      compact(render(JArray(tree.defSpecFields.toList))), entrySchema,
      entries)
  }

  /** The spec id delete manifests file under: the tree's own
    * UNPARTITIONED spec when it has one (second element None), else the
    * next free id to register alongside this commit (second element
    * Some(id)). */
  private def unpartSpecId(tree: Tree): (Int, Option[Int]) = {
    implicit val fmts: Formats = DefaultFormats
    val specs: Seq[(Int, Seq[JValue])] =
      (tree.meta \ "partition-specs").children.map(s =>
        ((s \ "spec-id").extractOpt[Int].getOrElse(0),
          (s \ "fields").children))
    val existingUnpart = specs.find(_._2.isEmpty).map(_._1)
    val specId = existingUnpart.getOrElse(
      specs.map(_._1).foldLeft(-1)(math.max) + 1)
    (specId, if (existingUnpart.isDefined) None else Some(specId))
  }

  /** Write pre-aligned delete rows (position coordinates, or equality
    * key tuples) as v2 delete files plus their delete manifest.
    * `content` is 1 (POSITION_DELETES — `rows` = (file_path, pos)) or 2
    * (EQUALITY_DELETES — `rows` = the key columns, `equalityIds` their
    * schema field ids). Returns None when `rows` is empty (nothing to
    * commit); otherwise the manifest-list record and, when the tree has
    * no unpartitioned spec to file the delete manifest under, the new
    * spec id to register in the published metadata. Rows are globally
    * sorted on `sortCols` per the spec's recommendation. */
  private def newDeleteManifest(spark: SparkSession, tree: Tree,
      rows: DataFrame, sortCols: Seq[String], content: Int,
      equalityIds: Seq[Int],
      // consolidation (rewritePositionDeletes) wants the GLOBAL sort: it
      // both orders across files and range-collapses the scattered input
      // partitions into a tight file set. Merge/stream tombstone writes
      // don't — PER-FILE ordering is what readers rely on (position
      // deletes sorted by (file_path, pos) within each delete file), so
      // they pay a REBALANCE (plain hash exchange, AQE-coalesced /
      // skew-split) + sort-within instead of the global sort's extra
      // range-boundary SAMPLING job per CDC batch: same tight file set,
      // one less pass over the batch.
      globalSort: Boolean = false)
      : Option[(GenericRecord, Option[Int])] = {
    val out =
      if (globalSort) rows.sort(sortCols.map(col): _*)
      else rows.hint("rebalance", sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    val dataRel = s"data/graft-delete-${UUID.randomUUID()}"
    val outDir = new Path(tree.tableLocation, dataRel)
    out.write.mode("errorifexists")
      // same committer rationale as the data write above
      .option("mapreduce.fileoutputcommitter.algorithm.version", "2")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(outDir.toString)
    val files = listWritten(spark, tree, dataRel).filter(_._3 > 0)
    if (files.isEmpty) { // no matches: leave no trace, commit nothing
      tree.fs.delete(outDir, true)
      return None
    }

    // the delete manifest files under an UNPARTITIONED spec (position
    // deletes name exact files — partition scope adds nothing); reuse
    // the tree's own unpartitioned spec when it has one, else register
    // the next spec id alongside this commit
    val (specId, addSpec) = unpartSpecId(tree)

    // v3 forbids NEW position-delete files — position tombstones must
    // be deletion vectors, which this writer does not emit yet;
    // equality deletes stay legal (callers refuse earlier with a
    // better message — this is the backstop)
    require(tree.formatVersion < 3 || content == 2,
      "v3 position deletes must be written as deletion vectors")
    val delSchema = IcebergManifests.entrySchema(Seq.empty,
      equalityIds = true, v3 = tree.formatVersion >= 3)
    val eqIds: Seq[(String, AnyRef)] =
      if (equalityIds.isEmpty) Nil
      else {
        import scala.jdk.CollectionConverters._
        Seq("equality_ids" -> equalityIds.map(Int.box).asJava)
      }
    val entries = files.map { case (rel, _, rows, len, _) =>
      IcebergManifests.addedEntry(delSchema, tree.newId, tree.newSeq,
        content, s"${tree.tableUri}/$rel", "PARQUET", rows, len,
        fields = eqIds)
    }
    Some((newManifest(tree, 1, specId, "[]", delSchema, entries), addSpec))
  }

  /** Write position tombstones in their v3 form — DELETION VECTORS:
    * `coords` ((manifest-form data-file uri, ordinal) rows, the shape
    * [[posCoords]] yields) become puffin DV blobs, one blob per
    * referenced data file, grouped into one puffin FILE per write
    * partition (executor-side writes — the driver never holds
    * positions), plus their delete manifest. Spec rules honored:
    *   - at most ONE live DV per data file: the new DV MERGES every
    *     prior position tombstone of its file (a prior DV is decoded in
    *     the same executor pass; prior v2 position-delete rows are read
    *     and filtered in), and superseded DV entries are flipped to
    *     DELETED in rewritten delete manifests (returned as publish
    *     replacements);
    *   - prior v2 position-delete FILES stay live untouched (they may
    *     reference other files; their rows for the re-vectored files
    *     are a subset of the new DV, and readers union monotonically) —
    *     unless the caller passes `alsoSupersede`, which flips matching
    *     live entries to DELETED in the same rewrite pass
    *     ([[rewritePositionDeletes]]'s conversion: the new DVs fully
    *     cover the parquet tombstones, so those files leave the read
    *     path in the same commit).
    * Returns None when `coords` is empty (nothing to commit). */
  private def newDvManifest(spark: SparkSession, tree: Tree,
      coords: DataFrame,
      alsoSupersede: GenericRecord => Boolean = _ => false,
      // callers that already hold the plan / already merged every
      // prior v2 position-delete row into `coords` (the consolidation
      // path) skip the second metadata walk and tombstone re-read
      plan0: Option[IcebergImport.TablePlan] = None,
      priorPosMerged: Boolean = false)
      : Option[(GenericRecord, Option[Int],
        Map[String, GenericRecord])] = {
    val sp = spark
    import sp.implicits._
    val p = plan0.getOrElse(
      IcebergImport.plan(spark, tree.tableLocation))
    val norm = coords.select(col("file_path").as("__dv_f"),
      col("pos").cast(LongType).as("__dv_p"))
    val affected = norm.select("__dv_f").distinct()
      .as[String].collect().toSet
    if (affected.isEmpty) return None

    // prior tombstones of the affected files — all merged into the new
    // DV so it completely replaces them for its file
    val oldDvs = p.dvs.filter(d => affected(d.dataFileUri))
    val posFiles =
      if (priorPosMerged) Nil
      else p.deletes.filter(_.equalityCols.isEmpty)
    val affectedDf = spark.createDataset(affected.toSeq).toDF("__dv_f")
    val priorPosRows = Option.when(posFiles.nonEmpty)(
      spark.read.parquet(posFiles.map(_.uri): _*)
        .select(col("file_path").as("__dv_f"),
          col("pos").cast(LongType).as("__dv_p"))
        .join(org.apache.spark.sql.functions.broadcast(affectedDf),
          Seq("__dv_f"), "left_semi"))
    val bc = IcebergImport.shippedConf(spark)
    val priorDvRows = Option.when(oldDvs.nonEmpty) {
      val dvList = oldDvs.map(d => (d.uri, d.offset, d.length,
        d.dataFileUri))
      spark.sparkContext.parallelize(dvList,
        math.max(1, math.min(dvList.size, 64))).flatMap {
          case (uri, off, len, ref) =>
            Puffin.readDv(bc.value.value, uri, off, len)
              .map(pos => (ref, pos))
        }.toDF("__dv_f", "__dv_p")
    }
    val all = (Seq(norm) ++ priorPosRows ++ priorDvRows)
      .reduce(_ unionByName _)

    // one puffin file per partition, one blob per data file; positions
    // of one file land in one partition (hash on file), sorted for the
    // roaring writer; blob dedup happens inside the codec
    val nParts = math.max(1, math.min(affected.size, 64))
    val tableLoc = tree.tableLocation
    val runId = UUID.randomUUID().toString
    val (snapId, newSeq) = (tree.newId, tree.newSeq)
    val blobCoords: Array[(String, Long, Long, Long, String, Long)] =
      all.repartition(nParts, col("__dv_f"))
        .sortWithinPartitions("__dv_f", "__dv_p")
        .as[(String, Long)]
        .mapPartitions { it =>
          if (it.isEmpty) Iterator.empty
          else {
            val conf = bc.value.value
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val name = s"graft-dv-$runId-p$pid.puffin"
            val path = new Path(s"$tableLoc/data/$name")
            val fs = path.getFileSystem(conf)
            // consecutive same-file runs (sorted within partition);
            // PRIMITIVE position buffers — a heavily tombstoned file's
            // DV is O(rows) longs, which must not box
            val dvs = Seq.newBuilder[(String, Seq[Long])]
            var curFile: String = null
            var ps = scala.collection.mutable.ArrayBuilder.make[Long]
            def flush(): Unit = if (curFile != null)
              dvs += ((curFile,
                scala.collection.immutable.ArraySeq.unsafeWrapArray(
                  ps.result())))
            it.foreach { case (f, pos) =>
              if (f != curFile) {
                flush()
                curFile = f
                ps = scala.collection.mutable.ArrayBuilder.make[Long]
              }
              ps += pos
            }
            flush()
            val cs = Puffin.writeDvFile(fs, path, dvs.result(),
              snapId, newSeq)
            val totalLen = fs.getFileStatus(path).getLen
            cs.iterator.map { case (ref, off, len, card) =>
              (name, off, len, card, ref, totalLen) }
          }
        }.collect()

    // the DV delete manifest (one entry per blob)
    val (specId, addSpec) = unpartSpecId(tree)
    val delSchema = IcebergManifests.entrySchema(Seq.empty,
      equalityIds = true, v3 = true)
    val entries = blobCoords.toSeq.map {
      case (name, off, len, card, ref, totalLen) =>
        IcebergManifests.addedEntry(delSchema, tree.newId, tree.newSeq,
          content = 1, s"${tree.tableUri}/data/$name", "PUFFIN", card,
          totalLen, fields = Seq("referenced_data_file" -> ref,
            "content_offset" -> Long.box(off),
            "content_size_in_bytes" -> Long.box(len)))
    }
    val rec = newManifest(tree, 1, specId, "[]", delSchema, entries)

    // supersede: rewrite delete manifests whose live DV entries
    // reference a re-vectored file — flipped to DELETED with this
    // commit's snapshot id (same attribution rule as compaction) —
    // plus whatever the caller marks dead via alsoSupersede (the
    // consolidation path retiring parquet tombstones). One shared
    // rewrite implementation: [[supersedeDeleteEntries]].
    def isSupersededDv(e: GenericRecord): Boolean = {
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val fmt = Option(df.get("file_format")).map(_.toString)
        .getOrElse("PARQUET")
      fmt.equalsIgnoreCase("puffin") &&
        Option(df.getSchema.getField("referenced_data_file"))
          .flatMap(_ => Option(df.get("referenced_data_file")))
          .exists(ref => affected(ref.toString))
    }
    val replacements = supersedeDeleteEntries(tree,
      e => isSupersededDv(e) || alsoSupersede(e))
    Some((rec, addSpec, replacements))
  }

  /** One deferred catalog commit: (identifier, requirements, updates,
    * v3 row-id high-water mark — -1 on v1/v2). Collected by
    * [[publish]] when `txnCollector` is set, posted together by
    * [[appendToCatalogAtomic]] as ONE CommitTransactionRequest. */
  private type TxnMember =
    (String, Seq[org.json4s.JValue], Seq[org.json4s.JValue], Long)

  /** Publish one commit: carry the current manifest list forward, append
    * `newRecords`, write the next metadata.json version (registering
    * `addUnpartSpec` when a delete manifest needed a fresh unpartitioned
    * spec). `replaceManifests` swaps individual carried records by
    * manifest_path — the compaction path, whose rewritten manifests
    * supersede their originals in the new snapshot only (older
    * snapshots keep referencing the untouched originals). Returns the
    * new snapshot id. */
  private def publish(spark: SparkSession, tree: Tree,
      newRecords: Seq[GenericRecord], operation: String,
      addUnpartSpec: Option[Int],
      replaceManifests: Map[String, GenericRecord] = Map.empty,
      summaryProps: Map[String, String] = Map.empty,
      dropManifests: Set[String] = Set.empty,
      txnCollector: Option[scala.collection.mutable.Buffer[TxnMember]] =
        None): Long = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods.{compact, render}
    implicit val fmts: Formats = DefaultFormats
    val now = System.currentTimeMillis()
    // v3 ROW LINEAGE: the new snapshot's first-row-id is the table's
    // next-row-id; each NEW data manifest is assigned the running
    // high-water mark, advanced by its added+existing row counts (the
    // spec's first-row-id inheritance — data files inside then inherit
    // sequentially from the manifest's value); the published metadata
    // advances next-row-id to the final mark. Carried manifests keep
    // their recorded first_row_id verbatim (null stays null on
    // pre-lineage manifests).
    var rowIdHwm = tree.nextRowId
    if (tree.formatVersion >= 3) newRecords.foreach { r =>
      // only manifests that ADD rows consume the row-id space: a
      // rewritten/consolidated manifest of EXISTING rows carries every
      // id explicitly per entry (null manifest value = nothing to
      // inherit), and stamping it would permanently inflate next-row-id
      if (r.get("content").asInstanceOf[Number].intValue == 0 &&
          r.get("added_rows_count").asInstanceOf[Number].longValue > 0) {
        r.put("first_row_id", rowIdHwm)
        rowIdHwm +=
          r.get("added_rows_count").asInstanceOf[Number].longValue +
          r.get("existing_rows_count").asInstanceOf[Number].longValue
      }
    }
    val listRecords: Seq[GenericRecord] = currentManifests(tree)
      .filterNot(m => dropManifests(m.path))
      .map(m => replaceManifests.getOrElse(m.path,
        IcebergManifests.listRecord(tree.listSchema, m))) ++ newRecords
    val listUri = IcebergManifests.writeList(tree.dir, tree.newId,
      tree.formatVersion, listRecords)

    // ---- next metadata.json version ----
    // truthful snapshot-summary metrics, computed from the very list
    // records this commit publishes — the spec's standard keys external
    // engines surface in their history views (Athena/Trino/Spark
    // .snapshots). "total-*" describe the NEW snapshot's live state
    // (live entries of a manifest = added + existing; DELETED entries
    // are dead), "added/deleted-*" this commit's delta (deletions live
    // in the rewritten replacement manifests).
    def metric(recs: Iterable[GenericRecord], content: Int,
        field: String): Long =
      recs.filter(_.get("content").asInstanceOf[Number].intValue
        == content).map(r => Option(r.get(field))
        .map(_.asInstanceOf[Number].longValue).getOrElse(0L)).sum
    val repl = replaceManifests.values
    val metrics: Map[String, String] = Map(
      "added-data-files" -> metric(newRecords, 0,
        "added_data_files_count"),
      "added-records" -> metric(newRecords, 0, "added_rows_count"),
      "added-delete-files" -> metric(newRecords, 1,
        "added_data_files_count"),
      "deleted-data-files" -> metric(repl, 0,
        "deleted_data_files_count"),
      "deleted-records" -> metric(repl, 0, "deleted_rows_count"),
      "removed-delete-files" -> metric(repl, 1,
        "deleted_data_files_count"),
      "total-data-files" ->
        (metric(listRecords, 0, "added_data_files_count") +
          metric(listRecords, 0, "existing_data_files_count")),
      "total-delete-files" ->
        (metric(listRecords, 1, "added_data_files_count") +
          metric(listRecords, 1, "existing_data_files_count")),
      "total-records" -> (metric(listRecords, 0, "added_rows_count") +
        metric(listRecords, 0, "existing_rows_count"))
    ).map { case (k, v) => k -> v.toString }
    val entryBase: JObject =
      ("sequence-number" -> tree.newSeq) ~
        ("snapshot-id" -> tree.newId) ~
        ("parent-snapshot-id" ->
          (if (tree.curId == -1L) JNothing: JValue
           else JLong(tree.curId): JValue)) ~
        ("timestamp-ms" -> now) ~
        ("summary" -> JObject(("operation" -> org.json4s.JString(
          operation)) :: (metrics ++ summaryProps).toList
          .sortBy(_._1).map {
          case (k, v) => k -> (org.json4s.JString(v): JValue) })) ~
        ("manifest-list" -> listUri) ~
        ("schema-id" -> tree.curSchemaId)
    val entryJ: JObject =
      if (tree.formatVersion >= 3)
        // v3 snapshot JSON carries BOTH row-lineage fields: first-row-id
        // (assigned from the table's next-row-id) and added-rows (the
        // row-id space this snapshot consumed — the spec's contract for
        // advancing next-row-id, and exactly what a REST catalog uses
        // server-side: next-row-id' = first-row-id + added-rows)
        entryBase ~ ("first-row-id" -> tree.nextRowId) ~
          ("added-rows" -> (rowIdHwm - tree.nextRowId))
      else entryBase

    // catalog-owned table: the commit goes back THROUGH the catalog as
    // protocol updates (add-snapshot + set-snapshot-ref) — the client
    // wrote data/manifests/list above, the catalog writes metadata.json
    // and enforces `assert-ref-snapshot-id` in place of the filesystem
    // rename's single-winner guarantee (409 → the same loud retry
    // contract). Snapshot shapes that rewrite or register metadata the
    // protocol updates here don't express refuse up front.
    if (tree.catalog.isDefined) {
      val (catalogUri, ident) = tree.catalog.get
      // v3 row lineage through the catalog: next-row-id is
      // CATALOG-maintained state, and the snapshot's own first-row-id +
      // added-rows fields (above) are the spec's contract for advancing
      // it — the SERVER validates first-row-id against its current
      // next-row-id (a stale value means a concurrent commit consumed
      // row-id space after this client loaded; that MUST reject, or two
      // snapshots would assign overlapping row ids) and advances
      // next-row-id to first-row-id + added-rows. A rejection surfaces
      // as the same 409 retry contract as a stale ref assert.
      // replaced/dropped manifests need NO protocol support: they are
      // baked into the manifest LIST this client already wrote — the
      // catalog only stores the snapshot entry pointing at it. A fresh
      // unpartitioned spec (delete manifests) rides the protocol's
      // add-spec update.
      val advRef = tree.branch.getOrElse("main")
      val specUpdate: Seq[JValue] = addUnpartSpec.toSeq.map(sid =>
        (("action" -> "add-spec") ~ ("spec" ->
          (("spec-id" -> sid) ~
            ("fields" -> org.json4s.JArray(Nil)): JValue))): JValue)
      val reqs: Seq[JValue] = Seq(
        // first commit to an empty table: the NULL form asserts the
        // ref's ABSENCE (a racing first-committer 409s)
        ("type" -> "assert-ref-snapshot-id") ~ ("ref" -> advRef) ~
          ("snapshot-id" ->
            (if (tree.curId == -1L) JNull: JValue
             else JLong(tree.curId): JValue)): JValue)
      val ups: Seq[JValue] = specUpdate ++ Seq(
        (("action" -> "add-snapshot") ~
          ("snapshot" -> (entryJ: JValue))): JValue,
        (("action" -> "set-snapshot-ref") ~ ("ref-name" -> advRef) ~
          ("type" -> "branch") ~
          ("snapshot-id" -> tree.newId)): JValue)
      // deferred mode: the member's payload joins a transaction the
      // CALLER posts atomically; the manifest list above is already on
      // disk (unreferenced until the transaction lands — an aborted
      // transaction leaves only orphan files, never a moved table)
      txnCollector match {
        case Some(buf) =>
          buf += ((ident, reqs, ups,
            if (tree.formatVersion >= 3) rowIdHwm else -1L))
          return tree.newId
        case None =>
      }
      val resp = graft.catalog.RestCatalog.commitTableFull(catalogUri,
        ident, requirements = reqs, updates = ups)
      // v3 contract check on the RESPONSE: the spec makes next-row-id
      // catalog-maintained — a catalog that applied add-snapshot
      // without advancing it does NOT implement the v3 row-lineage
      // contract, and every further v3 commit through it would assign
      // OVERLAPPING row ids. The commit above already landed; fail
      // loud HERE so the overlap never happens (the caller must stop
      // committing v3 through this catalog).
      if (tree.formatVersion >= 3) {
        val advanced = (resp \ "metadata" \ "next-row-id")
          .extractOpt[Long]
        require(advanced.exists(_ >= rowIdHwm),
          s"catalog at $catalogUri did not advance next-row-id (got " +
            s"${advanced.getOrElse("absent")}, need >= $rowIdHwm) — " +
            "it does not implement the v3 row-lineage commit " +
            "contract; do not commit v3 tables through it")
      }
      return tree.newId
    }
    val oldRefs: List[JField] = (tree.meta \ "refs") match {
      case JObject(fs0) => fs0
      case _ => Nil
    }
    // the commit advances exactly one ref: main (the default path —
    // current-snapshot-id and the snapshot-log move with it) or the
    // named branch (main and the log stay put: the spec's snapshot-log
    // records MAIN lineage only, and a staged branch commit must be
    // invisible to main readers until fast-forward)
    val advanceRef = tree.branch.getOrElse("main")
    val newRefs = JObject(oldRefs.filterNot(_._1 == advanceRef) :+
      (advanceRef -> (("snapshot-id" -> tree.newId) ~
        ("type" -> "branch"): JObject)))
    val oldLog = (tree.meta \ "snapshot-log").children
    val newLog = JArray(oldLog :+
      ((("timestamp-ms" -> now) ~ ("snapshot-id" -> tree.newId)): JValue))
    val newSpecsJ: Option[JValue] = addUnpartSpec.map { sid =>
      // register the fresh unpartitioned spec the delete manifest filed
      // under (the default spec id is untouched)
      val existing = (tree.meta \ "partition-specs").children match {
        case Nil => List[JValue]( // defensive: synthesize the default
          ("spec-id" -> tree.defaultSpecId) ~
            ("fields" -> JArray(tree.defSpecFields.toList)))
        case xs => xs
      }
      JArray(existing :+ ((("spec-id" -> sid) ~
        ("fields" -> JArray(Nil))): JValue))
    }
    val replaced = Set("last-updated-ms", "last-sequence-number",
      "snapshots", "refs") ++
      (if (tree.branch.isEmpty)
        Set("current-snapshot-id", "snapshot-log") else Set.empty) ++
      (if (newSpecsJ.isDefined) Set("partition-specs") else Set.empty) ++
      (if (tree.formatVersion >= 3) Set("next-row-id") else Set.empty)
    val kept = tree.meta.asInstanceOf[JObject].obj
      .filterNot(f => replaced.contains(f._1))
    val updated = JObject(kept ++ List[JField](
      "last-updated-ms" -> JLong(now),
      "last-sequence-number" -> JLong(tree.newSeq),
      "snapshots" -> JArray(tree.snapsJ :+ (entryJ: JValue)),
      "refs" -> newRefs) ++
      (if (tree.branch.isEmpty) List[JField](
        "current-snapshot-id" -> JLong(tree.newId),
        "snapshot-log" -> newLog) else Nil) ++
      newSpecsJ.map(s => "partition-specs" -> s).toList ++
      (if (tree.formatVersion >= 3)
        List[JField]("next-row-id" -> JLong(rowIdHwm)) else Nil))

    writeVersion(tree, updated)
    tree.newId
  }

  /** Publish the next metadata.json version: naming follows the tree's
    * own family; temp-write then SINGLE-WINNER publish through the same
    * [[graft.table.CommitLock]] primitive every graft snapshot commit
    * uses (POSIX link for file:// — a bare exists-check + rename is NOT
    * single-winner on rename-overwriting stores: two racing committers
    * could both pass the check and the loser would clobber the winner).
    * A concurrent foreign commit fails loud, never a lost update. */
  private[iceberg] def writeVersion(tree: Tree, updated: JValue): Unit =
    publishVersion(tree.fs, tree.tableLocation, tree.metaFile, updated,
      prevMeta = tree.meta)

  /** Max `metadata-log` entries carried forward — Iceberg's
    * `write.metadata.previous-versions-max` default. */
  private val MetadataLogMax = 100

  private def publishVersion(fs: FileSystem, tableLocation: String,
      metaFile: Path, updated: JValue,
      prevMeta: JValue = org.json4s.JNothing): Unit = {
    import org.json4s.jackson.JsonMethods.{compact, render}
    implicit val fmts: Formats = DefaultFormats
    val metaDir = new Path(tableLocation, "metadata")
    // maintain the spec's metadata-log: the file being superseded joins
    // the tail (stamped with ITS last-updated-ms — the moment that
    // version was current), capped like Iceberg's
    // write.metadata.previous-versions-max so a frequently-committed
    // tree's metadata.json does not grow without bound
    val withLog: JValue = {
      import org.json4s.JsonDSL._
      val prevTs = (prevMeta \ "last-updated-ms").extractOpt[Long]
        .getOrElse(System.currentTimeMillis())
      val prevUri = fs.makeQualified(metaFile).toString
      val oldLog = (updated \ "metadata-log").children
      val entry: JValue = ("timestamp-ms" -> prevTs) ~
        ("metadata-file" -> prevUri)
      val kept = updated.asInstanceOf[JObject].obj
        .filterNot(_._1 == "metadata-log")
      JObject(kept :+ ("metadata-log" ->
        (JArray((oldLog :+ entry).takeRight(MetadataLogMax)): JValue)))
    }
    val oldName = metaFile.getName
    val newMetaName =
      if (oldName.matches("v\\d+\\.metadata\\.json")) {
        val v = oldName.stripPrefix("v")
          .stripSuffix(".metadata.json").toLong
        s"v${v + 1}.metadata.json"
      } else {
        val digits = oldName.takeWhile(_.isDigit)
        val next = (if (digits.isEmpty) 0L else digits.toLong) + 1
        f"$next%05d-${UUID.randomUUID()}.metadata.json"
      }
    val target = new Path(metaDir, newMetaName)
    val tmp = new Path(metaDir, s".tmp-${UUID.randomUUID()}.metadata.json")
    val out = fs.create(tmp, false)
    try out.write(compact(render(withLog))
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (!graft.table.GraftTable.commitLock.publish(fs, tmp, target)) {
      fs.delete(tmp, false)
      throw new IllegalStateException(
        s"$target already exists — a concurrent commit published " +
          "first; re-read the table and retry")
    }
    val hint = new Path(metaDir, "version-hint.text")
    if (fs.exists(hint) && newMetaName.startsWith("v")) {
      val h = fs.create(hint, true)
      try h.write(newMetaName.stripPrefix("v")
        .stripSuffix(".metadata.json").getBytes(StandardCharsets.UTF_8))
      finally h.close()
    }
  }

  /** The idempotent-writer stamp carried in a snapshot's summary —
    * Iceberg's property bag, same role as Delta's txnAppId/txnVersion:
    * `graft.txn.app` + `graft.txn.batch` commit ATOMICALLY with the
    * snapshot (one metadata.json rename), so a replayed micro-batch can
    * check-then-skip with no side channel. */
  private val TxnAppKey = "graft.txn.app"
  private val TxnBatchKey = "graft.txn.batch"

  /** Highest batch id `appId` has committed into the foreign tree — a
    * metadata.json parse over snapshot summaries, no manifest walk. */
  def lastCommittedBatch(spark: SparkSession, tableLocation: String,
      appId: String): Option[Long] = {
    implicit val fmts: Formats = DefaultFormats
    val (_, meta, _) = IcebergImport.parseMeta(spark, tableLocation)
    val live = liveStampIds(meta)
    val batches = (meta \ "snapshots").children.flatMap { s =>
      val sm = s \ "summary"
      if (live((s \ "snapshot-id").extract[Long]) &&
          (sm \ TxnAppKey).extractOpt[String].contains(appId))
        (sm \ TxnBatchKey).extractOpt[String].map(_.toLong)
      else None
    }
    if (batches.isEmpty) None else Some(batches.max)
  }

  /** Snapshot ids whose txn stamps COUNT for the exactly-once replay
    * check: everything reachable (by parent links) from main's head or
    * from any live ref. A batch staged onto a branch that was later
    * ABANDONED (dropRef without fast-forward) left its stamp on
    * snapshots no ref can reach — honoring it would make the replay of
    * that batch a silent no-op and its rows would never land. */
  private def liveStampIds(meta: JValue): Long => Boolean = {
    implicit val fmts: Formats = DefaultFormats
    val heads = (meta \ "current-snapshot-id").extractOpt[Long]
      .filter(_ != -1L).toList ++
      refsOf(meta).flatMap { case (_, v) =>
        (v \ "snapshot-id").extractOpt[Long] }
    heads.distinct.flatMap(h => ancestorChain(meta, h)).toSet
  }

  /** The snapshot id that carries `(appId, batchId)`'s stamp — what a
    * REPLAYED batch should report as "its" commit (the main head would
    * be wrong when the original landed on a branch, or when later
    * commits advanced the table). None when that snapshot was expired
    * — the caller falls back to the current head. */
  private def committedSnapshotId(meta: JValue,
      txn: (String, Long)): Option[Long] = {
    implicit val fmts: Formats = DefaultFormats
    val (appId, batchId) = txn
    val live = liveStampIds(meta)
    (meta \ "snapshots").children.flatMap { s =>
      val sm = s \ "summary"
      if (live((s \ "snapshot-id").extract[Long]) &&
          (sm \ TxnAppKey).extractOpt[String].contains(appId) &&
          (sm \ TxnBatchKey).extractOpt[String]
            .contains(batchId.toString))
        Some((s \ "snapshot-id").extract[Long])
      else None
    }.maxOption
  }

  /** Replay short-circuit result: the stamped snapshot's own id. */
  private def replayId(spark: SparkSession, tableLocation: String,
      txn: Option[(String, Long)]): Long = {
    val (_, meta, _) = IcebergImport.parseMeta(spark, tableLocation)
    txn.flatMap(t => committedSnapshotId(meta, t)).getOrElse(
      IcebergImport.currentSnapshotId(spark, tableLocation).get)
  }

  private def txnProps(txn: Option[(String, Long)]): Map[String, String] =
    txn.map { case (app, batch) =>
      Map(TxnAppKey -> app, TxnBatchKey -> batch.toString)
    }.getOrElse(Map.empty)

  /** Has this (appId, batchId) already committed? The exactly-once
    * check every txn-stamped write-back runs before doing any work. */
  private def alreadyCommitted(spark: SparkSession, tableLocation: String,
      txn: Option[(String, Long)]): Boolean =
    txn.exists { case (app, batch) =>
      lastCommittedBatch(spark, tableLocation, app).exists(_ >= batch) }

  /** Append `df` to the foreign tree at `tableLocation` as one v2
    * snapshot commit; returns the new snapshot id. `txn` stamps the
    * commit with an idempotent-writer (appId, batchId): a replay with a
    * batch id at or below the stamped high-water mark is a no-op —
    * exactly-once for streaming sinks. */
  def appendTo(spark: SparkSession, tableLocation: String,
      df: DataFrame, txn: Option[(String, Long)] = None,
      branch: Option[String] = None): Long = {
    if (alreadyCommitted(spark, tableLocation, txn))
      return replayId(spark, tableLocation, txn)
    // branch => the commit chains on (and advances) that ref only —
    // Iceberg's write-audit-publish staging: main readers see nothing
    // until fastForward lands the branch
    val tree = loadTree(spark, tableLocation, branch,
      allowEmpty = true)
    val hasIds = treeHasIds(spark, tree)
    val rec = newDataManifest(spark, tree, df, hasIds)
    publish(spark, tree, Seq(rec), "append", None,
      summaryProps = txnProps(txn))
  }

  /** [[appendTo]] against a CATALOG-OWNED table: `identifier`
    * (`namespace.table`) resolves through the REST catalog, data and
    * manifests are written under the table's declared location, and
    * the commit goes back THROUGH the catalog as a
    * `CommitTableRequest` (add-snapshot + set-snapshot-ref, guarded by
    * `assert-ref-snapshot-id`) — the full client contract of the open
    * protocol, where the catalog owns the metadata.json pointer swap.
    * `branch` stages on a ref exactly like the filesystem path.
    * Returns the new snapshot id. */
  def appendToCatalog(spark: SparkSession, catalogUri: String,
      identifier: String, df: DataFrame,
      txn: Option[(String, Long)] = None,
      branch: Option[String] = None): Long = {
    val handle = graft.catalog.RestCatalog
      .loadTableMetadataLocation(catalogUri, identifier)
    if (alreadyCommitted(spark, handle, txn))
      return replayId(spark, handle, txn)
    val tree = loadTree(spark, handle, branch,
      catalog = Some((catalogUri, identifier)), allowEmpty = true)
    val hasIds = treeHasIds(spark, tree)
    val rec = newDataManifest(spark, tree, df, hasIds)
    publish(spark, tree, Seq(rec), "append", None,
      summaryProps = txnProps(txn))
  }

  /** ATOMIC multi-table append through the REST catalog — the spec's
    * `POST /v1/{prefix}/transactions/commit`: every batch's data files
    * and manifest list are written first (unreferenced staging), then
    * ALL tables commit in ONE CommitTransactionRequest. Either every
    * table moves or none does — the cross-table consistency a commit
    * loop cannot give (a crash or 409 between iterations leaves
    * half-moved state; here an aborted transaction leaves only orphan
    * staging files). A 409 on ANY member aborts the whole transaction
    * with the standard re-read-and-retry contract. v3 members get the
    * same row-lineage response check as single-table commits, via a
    * post-commit metadata read per member (the transaction response
    * carries no per-table metadata). Returns the new snapshot ids in
    * batch order. */
  def appendToCatalogAtomic(spark: SparkSession, catalogUri: String,
      batches: Seq[(String, DataFrame)]): Seq[Long] = {
    require(batches.nonEmpty, "atomic append needs at least one table")
    require(batches.map(_._1).distinct.size == batches.size,
      "atomic append: one batch per table (duplicate identifiers)")
    val members =
      scala.collection.mutable.Buffer.empty[TxnMember]
    val ids = batches.map { case (identifier, df) =>
      val handle = graft.catalog.RestCatalog
        .loadTableMetadataLocation(catalogUri, identifier)
      val tree = loadTree(spark, handle,
        catalog = Some((catalogUri, identifier)), allowEmpty = true)
      val hasIds = treeHasIds(spark, tree)
      val rec = newDataManifest(spark, tree, df, hasIds)
      publish(spark, tree, Seq(rec), "append", None,
        txnCollector = Some(members))
    }
    graft.catalog.RestCatalog.commitTransaction(catalogUri,
      members.toSeq.map(m => (m._1, m._2, m._3)))
    // v3 contract check per member (same rationale as the single-table
    // response check: a catalog that applied add-snapshot without
    // advancing next-row-id hands the next committer overlapping ids)
    members.filter(_._4 >= 0L).foreach { case (ident, _, _, hwm) =>
      val loc = graft.catalog.RestCatalog
        .loadTableMetadataLocation(catalogUri, ident)
      val p = new Path(loc)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      val in = fs.open(p)
      val metaTxt = try new String(org.apache.commons.io.IOUtils
        .toByteArray(in), StandardCharsets.UTF_8)
      finally in.close()
      implicit val fmts: Formats = DefaultFormats
      val advanced = (org.json4s.jackson.JsonMethods.parse(metaTxt) \
        "next-row-id").extractOpt[Long]
      require(advanced.exists(_ >= hwm),
        s"catalog at $catalogUri did not advance next-row-id for " +
          s"$ident in the transaction (got " +
          s"${advanced.getOrElse("absent")}, need >= $hwm) — it does " +
          "not implement the v3 row-lineage commit contract")
    }
    ids
  }

  /** [[deleteWhere]] / [[deleteKeys]] / [[mergeInto]] against a
    * CATALOG-OWNED table: the identifier resolves to a read handle,
    * reads (current state, lineage, pruned scans) go through it, and
    * the commit publishes back THROUGH the catalog exactly like
    * [[appendToCatalog]] — including the protocol's `add-spec` update
    * when a delete manifest needs a fresh unpartitioned spec. v3
    * lineage advances via the snapshot's first-row-id/added-rows —
    * the catalog validates and owns next-row-id. */
  def deleteWhereCatalog(spark: SparkSession, catalogUri: String,
      identifier: String, predicate: Column): Long =
    deleteWhere(spark, graft.catalog.RestCatalog
      .loadTableMetadataLocation(catalogUri, identifier), predicate,
      catalog = Some((catalogUri, identifier)))

  def deleteKeysCatalog(spark: SparkSession, catalogUri: String,
      identifier: String, keys: DataFrame): Long =
    deleteKeys(spark, graft.catalog.RestCatalog
      .loadTableMetadataLocation(catalogUri, identifier), keys,
      catalog = Some((catalogUri, identifier)))

  def mergeIntoCatalog(spark: SparkSession, catalogUri: String,
      identifier: String, source: DataFrame, keys: Seq[String],
      equalityDeletes: Boolean = false,
      txn: Option[(String, Long)] = None): Long =
    mergeInto(spark, graft.catalog.RestCatalog
      .loadTableMetadataLocation(catalogUri, identifier), source, keys,
      equalityDeletes, txn, catalog = Some((catalogUri, identifier)))

  /** Row-level DELETE against the foreign tree: the current-state rows
    * matching `predicate` become v2 position tombstones in one `delete`
    * snapshot — no data byte rewritten, any partition spec accepted.
    * Returns the new snapshot id, or the CURRENT id when nothing matched
    * (no empty commit is published). */
  def deleteWhere(spark: SparkSession, tableLocation: String,
      predicate: Column,
      catalog: Option[(String, String)] = None): Long = {
    val tree = loadTree(spark, tableLocation, catalog = catalog)
    if (tree.formatVersion >= 3) {
      // v3 forbids new position-delete FILES: the tombstones are
      // written as DELETION VECTORS instead ([[newDvManifest]])
      val matched = posCoords(IcebergImport.readLineage(spark,
        tableLocation).filter(predicate), hasIds = false)
      return newDvManifest(spark, tree, matched) match {
        case None => tree.curId
        case Some((rec, addSpec, repl)) =>
          publish(spark, tree, Seq(rec), "delete", addSpec, repl)
      }
    }
    val hasIds = treeHasIds(spark, tree)
    val matched = posCoords(
      IcebergImport.readLineage(spark, tableLocation).filter(predicate),
      hasIds)
    newDeleteManifest(spark, tree, matched, Seq("file_path", "pos"),
      content = 1, equalityIds = Nil) match {
      case None => tree.curId
      case Some((rec, addSpec)) =>
        publish(spark, tree, Seq(rec), "delete", addSpec)
    }
  }

  /** Lineage rows → spec-shaped position-delete coordinates (reserved
    * field ids 2147483546/2147483545, stamped iff the tree is id-ful). */
  private def posCoords(lineage: DataFrame, hasIds: Boolean): DataFrame = {
    val fp = col(IcebergImport.LineageFileCol)
    val pos = col(IcebergImport.LineagePosCol).cast(LongType)
    if (hasIds) lineage.select(fp.as("file_path", idMeta(2147483546L)),
      pos.as("pos", idMeta(2147483545L)))
    else lineage.select(fp.as("file_path"), pos.as("pos"))
  }

  /** Key-based DELETE against the foreign tree as v2 EQUALITY delete
    * files — O(keys) work with NO table scan at all: the keys parquet
    * plus one delete manifest plus the metadata commit. This is the
    * shape a streaming CDC writer needs at 100 TB — tombstoning a
    * million keys out of a petabyte costs megabytes, and readers apply
    * the tombstones to strictly-older data by the v2 sequence rule
    * (deleteSeq > dataSeq), so rows (re-)inserted AFTER this commit are
    * untouched. `keys` carries one column per equality column (a subset
    * of the schema); NULL key values are refused — the spec's equality
    * semantics is null-safe but not every external reader joins
    * null-safely, and a silent cross-engine divergence is worse than a
    * loud refusal. Returns the new snapshot id, or the current id when
    * `keys` is empty. */
  def deleteKeys(spark: SparkSession, tableLocation: String,
      keys: DataFrame,
      catalog: Option[(String, String)] = None): Long = {
    val tree = loadTree(spark, tableLocation, catalog = catalog)
    val hasIds = treeHasIds(spark, tree)
    val (aligned, cols, ids) = alignedKeyTuples(tree, keys,
      keys.columns.toSeq, hasIds)
    newDeleteManifest(spark, tree, aligned, cols, content = 2,
      equalityIds = ids) match {
      case None => tree.curId
      case Some((rec, addSpec)) =>
        publish(spark, tree, Seq(rec), "delete", addSpec)
    }
  }

  /** Distinct key tuples aligned to the schema (types cast, field ids
    * stamped iff the tree is id-ful), NULL keys refused — the shared
    * contract of every equality-delete writer here. Returns the aligned
    * frame, the column names, and their schema field ids. */
  private def alignedKeyTuples(tree: Tree, df: DataFrame,
      cols: Seq[String], hasIds: Boolean)
      : (DataFrame, Seq[String], Seq[Int]) = {
    val byName = tree.fields.map(f => f._1 -> f).toMap
    require(cols.nonEmpty, "need at least one key column")
    val bad = cols.filterNot(byName.contains)
    require(bad.isEmpty,
      s"key columns not in table schema: ${bad.mkString(",")}")
    val aligned = df.select(cols.map { c =>
      val (_, id, t) = byName(c)
      require(isScalar(t), s"equality-delete key column $c has nested " +
        s"type $t — keys must be primitive (spec: equality delete " +
        "rows compare by value)")
      val cast = col(c).cast(IcebergImport.sparkType(t))
      if (hasIds) cast.as(c, idMeta(id.toLong)) else cast.as(c)
    }: _*).distinct()
    val nullCond = cols.map(col(_).isNull).reduce(_ || _)
    require(aligned.filter(nullCond).limit(1).collect().isEmpty,
      "NULL key values refused for equality deletes (cross-engine " +
        "equality-null semantics differ); use deleteWhere instead")
    (aligned, cols, cols.map(c => byName(c)._2))
  }

  /** Keyed UPSERT into the foreign tree — the reference's MERGE INTO
    * shape (WHEN MATCHED THEN UPDATE SET * / WHEN NOT MATCHED THEN
    * INSERT *), committed as ONE v2 `overwrite` snapshot: a position-
    * delete manifest tombstones every current target row whose key
    * appears in `source`, and a data manifest adds every source row.
    * Duplicate source keys are refused (two source rows per key have no
    * deterministic merge result — the same rule the engine-side
    * MergeInto enforces via its dedup contract). Returns the new
    * snapshot id. */
  def mergeInto(spark: SparkSession, tableLocation: String,
      source: DataFrame, keys: Seq[String],
      equalityDeletes: Boolean = false,
      txn: Option[(String, Long)] = None,
      catalog: Option[(String, String)] = None): Long = {
    if (alreadyCommitted(spark, tableLocation, txn))
      return replayId(spark, tableLocation, txn)
    val tree = graft.util.Phase.timed("ice.merge.loadTree")(
      loadTree(spark, tableLocation, catalog = catalog))
    require(keys.nonEmpty, "mergeInto needs at least one key column")
    val schemaCols = tree.fields.map(_._1).toSet
    val badKeys = keys.filterNot(schemaCols)
    require(badKeys.isEmpty,
      s"merge keys not in table schema: ${badKeys.mkString(",")}")
    val hasIds = graft.util.Phase.timed("ice.merge.sniff")(
      treeHasIds(spark, tree))
    // the batch is the SMALL side of a merge: persist it so the stats
    // pass, the key semi-join and the data write materialize its
    // lineage once, not once per consumer (micro-batch sources are
    // expensive to recompute)
    val src = source.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the DISTINCT key tuples serve three masters with ONE shuffle:
    // the duplicate-key guard (|distinct| == |source| — SQL DISTINCT
    // groups NULLs like GROUP BY, so null-keyed rows count correctly),
    // the position-mode semi-join probe side, and nothing else touches
    // a keyed shuffle — the former groupBy(keys).count pass is gone
    // (bounds reduce map-side as a scalar aggregate)
    val distinctKeys = src.select(keys.map(col): _*).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val statAggs = count(lit(1)).as("__n") +:
        keys.flatMap(k => Seq(min(col(k)).as(s"__lo_$k"),
          max(col(k)).as(s"__hi_$k")))
      val stats = graft.util.Phase.timed("ice.merge.stats")(
        src.agg(statAggs.head, statAggs.tail: _*).head())
      val srcCount = stats.getAs[Long]("__n")
      if (distinctKeys.count() != srcCount) {
        val dup = src.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__cnt"))
          .filter(col("__cnt") > 1).limit(1).collect()
        throw new IllegalArgumentException(
          s"source has multiple rows for key ${dup.headOption
            .map(_.toString).getOrElse("")} — dedup the source " +
            "before merging")
      }
      val delRec: Option[(GenericRecord, Option[Int],
          Map[String, GenericRecord])] =
        graft.util.Phase.timed("ice.merge.tombstones")(
        if (equalityDeletes) {
          // Flink-style upsert: tombstone the source KEYS as equality
          // deletes — NO target scan at all; unmatched keys tombstone
          // nothing (v2 ordering scopes them to strictly-older rows).
          // O(source) total cost — the streaming upsert shape at 100 TB.
          val (aligned, cols, ids) = alignedKeyTuples(tree,
            src, keys, hasIds)
          newDeleteManifest(spark, tree, aligned, cols, content = 2,
            equalityIds = ids)
            .map { case (r, a) => (r, a, Map.empty[String, GenericRecord]) }
        } else {
          // position-precise: tombstone exactly the matched target
          // ordinals. The lineage scan is PRUNED to files whose
          // manifest bounds overlap the batch's key range — the
          // foreign twin of graft's own merge file pruning — so a
          // narrow upsert batch never scans the whole tree. Pruned
          // files can't hold a matching key; rows of kept files are
          // decided by the semi-join alone (null-key rows unaffected).
          val boundsPred = keys.flatMap { k =>
            (Option(stats.getAs[Any](s"__lo_$k")),
              Option(stats.getAs[Any](s"__hi_$k"))) match {
              case (Some(lo), Some(hi)) =>
                Some(col(k) >= lit(lo) && col(k) <= lit(hi))
              case _ => None
            }
          }.reduceOption(_ && _)
          val lineage = boundsPred match {
            case Some(p) =>
              IcebergImport.readLineageWhere(spark, tableLocation, p)
            case None => IcebergImport.readLineage(spark, tableLocation)
          }
          val matched = posCoords(
            lineage.join(distinctKeys, keys, "left_semi"), hasIds)
          // v3: matched-row tombstones become DELETION VECTORS (v3
          // forbids new position-delete files); v2 keeps its parquet
          // position-delete encoding
          if (tree.formatVersion >= 3)
            newDvManifest(spark, tree, matched)
          else
            newDeleteManifest(spark, tree, matched,
              Seq("file_path", "pos"), content = 1, equalityIds = Nil)
              .map { case (r, a) =>
                (r, a, Map.empty[String, GenericRecord]) }
        })
      val dataRec = graft.util.Phase.timed("ice.merge.write")(
        newDataManifest(spark, tree, src, hasIds))
      graft.util.Phase.timed("ice.merge.publish")(delRec match {
        case None => // pure insert — an honest append commit
          publish(spark, tree, Seq(dataRec), "append", None,
            summaryProps = txnProps(txn))
        case Some((rec, addSpec, repl)) =>
          publish(spark, tree, Seq(rec, dataRec), "overwrite", addSpec,
            repl, summaryProps = txnProps(txn))
      })
    } finally { distinctKeys.unpersist(); src.unpersist() }
  }

  /** MAINTENANCE write-back — compact the foreign tree's small files as
    * one `replace` snapshot (Iceberg's rewrite_data_files, hand-walked):
    * data files under `smallFileBytes` are read MOR-applied (their live
    * position/equality tombstones are CONSUMED into the rewrite) and
    * rewritten as right-sized files at the new sequence number, while
    * every affected manifest is rewritten IN ITS OWN WRITER SCHEMA with
    * the compacted entries flipped to status DELETED and the kept
    * entries to EXISTING with explicit (inherited-made-explicit)
    * sequence numbers and snapshot ids — so bounds/stats annotations the
    * foreign writer recorded survive verbatim. Untouched manifests and
    * ALL delete manifests carry forward by reference: equality deletes
    * still apply to kept files (their sequences are unchanged) and can
    * never re-apply to the rewrite (newSeq > every deleteSeq); position
    * deletes naming rewritten files dangle harmlessly (no matching
    * path). Older snapshots keep referencing the original manifests —
    * time travel is untouched. Followers ride through via
    * `readChanges(skipRewrites)` / the streaming source, exactly like a
    * foreign engine's compaction.
    *
    * Only files filed under the DEFAULT all-identity/unpartitioned spec
    * are compacted (the rewrite writes data, which needs partitionBy);
    * manifests under other specs keep their files. No-op (current id,
    * no commit) below `minInputFiles` candidates.
    *
    * Scale shape: the rewrite reads only the small files (subset scan);
    * driver work is O(entries of affected manifests) — the same cost
    * any Iceberg compaction pays to rewrite its manifests. */
  def compactSmallFiles(spark: SparkSession, tableLocation: String,
      smallFileBytes: Long = 32L << 20,
      targetFileBytes: Long = 128L << 20,
      minInputFiles: Int = 2,
      catalog: Option[(String, String)] = None): Long = {
    val tree = loadTree(spark, tableLocation, catalog = catalog)
    specPartition(tree) // refuse non-evaluable default specs up front
    val hasIds = treeHasIds(spark, tree)
    val v3 = tree.formatVersion >= 3

    // walk the manifest list once; candidates = live data files under
    // the default spec smaller than the threshold
    val mfs = currentManifests(tree)
    val smallByManifest: Map[String, Set[String]] = mfs
      .filter(m => m.content == 0 && m.specId == tree.defaultSpecId)
      .map { m =>
        val entries = IcebergImport.readAvro(tree.fs, m.path)
        val small = entries.filter { e =>
          e.get("status").asInstanceOf[Int] != 2 && {
            val df = e.get("data_file").asInstanceOf[GenericRecord]
            val isData = Option(df.get("content"))
              .forall(_.asInstanceOf[Number].intValue == 0)
            isData && Option(df.get("file_size_in_bytes"))
              .exists(_.asInstanceOf[Number].longValue < smallFileBytes)
          }
        }.map(e => String.valueOf(e.get("data_file")
          .asInstanceOf[GenericRecord].get("file_path")))
        m.path -> small.toSet
      }.filter(_._2.nonEmpty).toMap
    val smallUris = smallByManifest.values.flatten.toSet
    if (smallUris.size < minInputFiles) return tree.curId

    // the rewrite: surviving rows of exactly the small files (their
    // deletes consumed), repacked into ~targetFileBytes outputs at the
    // new sequence — per-partition sizing is the writer's own
    // partitionBy; the coalesce only bounds the file COUNT
    val smallBytes = IcebergImport.plan(spark, tableLocation).files
      .filter(f => smallUris(f.uri)).map(_.bytes).sum
    val outFiles = math.max(1L,
      (smallBytes + targetFileBytes - 1) / targetFileBytes).toInt
    // v3: the rewrite must PRESERVE each surviving row's lineage — the
    // subset read computes `_row_id` / `_last_updated_sequence_number`
    // per row (materialized column or inheritance), and the output
    // files MATERIALIZE both under their reserved field ids, which
    // readers prefer over inheritance. Rows from pre-lineage manifests
    // materialize null ids — the spec's "no lineage" value.
    val rows =
      (if (v3) IcebergImport.readFileSubsetRowLineage(spark,
        tableLocation, smallUris)
       else IcebergImport.readFileSubset(spark, tableLocation,
         smallUris)).coalesce(outFiles)
    val dataRec = newDataManifest(spark, tree, rows, hasIds,
      extraCols = if (!v3) Nil else Seq(
        (IcebergImport.RowIdCol, IcebergImport.RowIdFieldId),
        (IcebergImport.LastUpdSeqCol, IcebergImport.LastUpdSeqFieldId)))

    // rewrite each affected manifest in its own writer schema
    val replacements: Map[String, GenericRecord] = mfs
      .filter(m => smallByManifest.contains(m.path)).map { m =>
        val (entries, fileMeta) =
          IcebergImport.readAvroWithMeta(tree.fs, m.path)
        val small = smallByManifest(m.path)
        m.path -> IcebergManifests.rewrite(tree.dir, tree.listSchema, m,
          entries, fileMeta, tree.newId, v3)(e => small(String.valueOf(
            e.get("data_file").asInstanceOf[GenericRecord]
              .get("file_path"))))
      }.toMap

    publish(spark, tree, Seq(dataRec), "replace", None, replacements)
  }

  /** Consolidate the CURRENT snapshot's small manifests — Iceberg's
    * `rewrite_manifests`, covering DATA and DELETE manifests alike.
    * Every append adds a manifest and every row-level delete commit
    * adds a delete manifest, so a frequently-committed table (the
    * streaming-CDC shape) accretes a manifest list whose LENGTH, not
    * its data, becomes the planning bottleneck: at 100 TB a scan opens
    * thousands of manifest files before reading a byte. This merges
    * small manifests into one per group and publishes a `replace`
    * snapshot with added/deleted row counts of ZERO — no data, delete,
    * or prior-snapshot byte is touched, and time travel to older
    * snapshots still walks their own untouched lists.
    *
    * Grouping is by (spec-id × exact entry writer schema × the
    * manifest's own partition-spec/schema-id stamps): entries are
    * concatenated VERBATIM under their original Avro schema, so no
    * stats field a foreign writer recorded (column_sizes, value_counts,
    * nan_counts, ...) can be silently dropped in transcoding — a
    * mixed-writer tree consolidates within each writer family and
    * leaves singletons alone. Inherited fields become explicit exactly
    * as in compaction's manifest rewrite (sequence numbers and
    * snapshot ids from each source manifest's list entry; v3
    * first_row_id assigned by the original manifest's base and entry
    * order), DELETED markers drop (they are history, not live state —
    * prior snapshots keep them), and EXISTING status is stamped on
    * everything else. Empty data manifests drop outright. Returns the
    * new snapshot id (current id when nothing qualified). */
  def rewriteManifests(spark: SparkSession, tableLocation: String,
      smallManifestBytes: Long = 8L << 20,
      minInputManifests: Int = 2,
      catalog: Option[(String, String)] = None): Long = {
    val tree = loadTree(spark, tableLocation, catalog = catalog)
    val v3 = tree.formatVersion >= 3
    val mfs = currentManifests(tree)
    // DELETE manifests consolidate too — a streaming-CDC tree accretes
    // one per micro-batch delete commit, and readers must open every
    // one at plan time; same verbatim-schema rule, with `content`
    // itself in the group key so data and delete manifests never mix
    val candidates = mfs.filter(m =>
      (m.content == 0 || m.content == 1) && m.length < smallManifestBytes)
    if (candidates.size < minInputManifests) return tree.curId
    case class Loaded(m: IcebergManifests.ManifestFile,
        entries: Seq[GenericRecord],
        meta: Map[String, String])
    val loaded = candidates.map { m =>
      val (es, fm) = IcebergImport.readAvroWithMeta(tree.fs, m.path)
      Loaded(m, es, fm)
    }
    val (empties, nonEmpty) = loaded.partition(_.entries.isEmpty)
    val groups = nonEmpty.groupBy(l => (l.m.specId, l.m.content,
      l.entries.head.getSchema.toString,
      l.meta.getOrElse("partition-spec", ""),
      l.meta.getOrElse("schema-id", "")))
    val dropped = scala.collection.mutable.ArrayBuffer.empty[String]
    val newRecs = groups.toSeq.sortBy(_._2.head.m.path).flatMap {
      case (_, ls) =>
        if (ls.size < minInputManifests) None
        else {
          // the consolidated manifest is a NEW inheritance context
          ls.foreach(l => IcebergManifests.makeExplicit(l.m, l.entries, v3))
          val out = ls.flatMap(_.entries)
            .filter(e => IcebergManifests.status(e) != 2)
          out.foreach(_.put("status", 0)) // EXISTING
          dropped ++= ls.map(_.m.path)
          if (out.isEmpty) None // every entry was a DELETED marker
          else {
            val m = ls.head.m
            val (uri, len) = IcebergManifests.writeManifest(tree.dir,
              m.content, ls.head.entries.head.getSchema, out, ls.head.meta)
            // entries are all explicit: nothing inherits (no first_row_id)
            Some(IcebergManifests.listRecord(tree.listSchema,
              IcebergManifests.ManifestFile(uri, len, m.specId, m.content,
                seq = tree.newSeq, minSeq = out.map(IcebergManifests.seqOf).min,
                addedSnapshotId = tree.newId, existingFiles = out.size,
                existingRows = out.map(IcebergManifests.recordCount).sum)))
          }
        }
    }
    dropped ++= empties.map(_.m.path)
    if (dropped.isEmpty) return tree.curId
    publish(spark, tree, newRecs, "replace", None,
      dropManifests = dropped.toSet)
  }

  /** Rewrite every live DELETE manifest holding entries matching
    * `supersede`: matching entries flip to DELETED with this commit's
    * snapshot id, everything else carries EXISTING with explicit
    * sequence numbers — the same attribution rule as compaction's
    * manifest rewrite. Returns publish-ready replacements keyed by
    * original manifest path (empty when nothing matches). */
  private def supersedeDeleteEntries(tree: Tree,
      supersede: GenericRecord => Boolean): Map[String, GenericRecord] = {
    def dead(e: GenericRecord): Boolean =
      IcebergManifests.status(e) != 2 && supersede(e)
    currentManifests(tree).filter(_.content == 1).flatMap { m =>
      val (es, fileMeta) = IcebergImport.readAvroWithMeta(tree.fs, m.path)
      Option.when(es.exists(dead))(m.path -> IcebergManifests.rewrite(
        tree.dir, tree.listSchema, m, es, fileMeta, tree.newId,
        tree.formatVersion >= 3)(supersede))
    }.toMap
  }

  /** The current snapshot's manifest-list records (none on a table
    * with no snapshot yet). */
  private def currentManifests(tree: Tree)
      : Seq[IcebergManifests.ManifestFile] =
    tree.oldListUri.toSeq.flatMap(u => IcebergImport.readAvro(tree.fs, u))
      .map(IcebergManifests.readList(_, tree.curId))

  /** MAINTENANCE write-back — Iceberg's `rewrite_position_delete_files`:
    * consolidate the tree's accreted POSITION tombstones. A CDC-heavy
    * tree adds a small position-delete file per commit; every read then
    * opens all of them and unions their rows, so at 100 TB the delete
    * SCAN (thousands of KB-sized files) outweighs the deletes
    * themselves. One `replace` snapshot:
    *   - v2: all live parquet position-delete rows consolidate into one
    *     globally-sorted set of delete files ((file_path, pos) — the
    *     spec's required order; range-disjoint files, so file count
    *     scales with delete VOLUME, not commit count), minus DANGLING
    *     rows (positions naming data files no longer live — compacted
    *     or rewritten away) and duplicates;
    *   - v3: the live parquet position deletes CONVERT to deletion
    *     vectors ([[newDvManifest]] merges any existing DV of the same
    *     data file — the one-DV-per-file invariant holds), completing
    *     the v2→v3 ladder for trees upgraded with legacy delete files;
    *   - either way the old parquet entries flip to DELETED in
    *     rewritten delete manifests, so readers stop opening them, and
    *     older snapshots keep their untouched originals (time travel
    *     unaffected; the files themselves stay on disk for pinned
    *     readers — orphan cleanup stays a deliberate manual step).
    * Equality deletes are untouched (their sequence-scoped semantics
    * forbid re-sequencing; [[compactSmallFiles]] is the op that retires
    * them). No-op (current id, no commit) when there is nothing to
    * consolidate: fewer than `minInputFiles` position-delete files AND
    * no dangling/duplicate rows. Returns the snapshot id. */
  def rewritePositionDeletes(spark: SparkSession, tableLocation: String,
      minInputFiles: Int = 2,
      catalog: Option[(String, String)] = None): Long = {
    val sp = spark
    import sp.implicits._
    val tree = loadTree(spark, tableLocation, catalog = catalog)
    val p = IcebergImport.plan(spark, tableLocation)
    val posRefs = p.deletes.filter(_.equalityCols.isEmpty)
    if (posRefs.isEmpty) return tree.curId
    val posUris = posRefs.map(_.uri).toSet
    // live data-file URIs are metadata-scale (one string per file) —
    // broadcast them against the delete rows
    val liveDf = broadcast(
      spark.createDataset(p.files.map(_.uri)).toDF("file_path"))
    val raw = spark.read.parquet(posRefs.map(_.uri): _*)
      .select(col("file_path").cast(StringType).as("file_path"),
        col("pos").cast(LongType).as("pos"))
    val consolidated = raw.join(liveDf, Seq("file_path"), "left_semi")
      .distinct()
    if (posRefs.size < minInputFiles &&
        consolidated.count() == raw.count())
      return tree.curId // single tight file — nothing to gain
    val hasIds = treeHasIds(spark, tree)
    val shaped =
      if (hasIds) consolidated.select(
        col("file_path").as("file_path", idMeta(2147483546L)),
        col("pos").as("pos", idMeta(2147483545L)))
      else consolidated
    // the old parquet tombstones leave the read path in this commit:
    // every live non-puffin position entry naming a consolidated file
    val supersedeParquetPos: GenericRecord => Boolean = e => {
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      val fmt = Option(df.get("file_format")).map(_.toString)
        .getOrElse("PARQUET")
      val content = Option(df.get("content"))
        .map(_.asInstanceOf[Number].intValue).getOrElse(0)
      content == 1 && !fmt.equalsIgnoreCase("puffin") &&
        posUris.contains(String.valueOf(df.get("file_path")))
    }
    if (tree.formatVersion >= 3)
      newDvManifest(spark, tree, shaped,
          alsoSupersede = supersedeParquetPos,
          plan0 = Some(p), priorPosMerged = true) match {
        case Some((rec, addSpec, repl)) =>
          publish(spark, tree, Seq(rec), "replace", addSpec,
            replaceManifests = repl)
        case None =>
          // every position was dangling: nothing to vector, but the
          // dead tombstone files still leave the read path
          val repl = supersedeDeleteEntries(tree, supersedeParquetPos)
          if (repl.isEmpty) tree.curId
          else publish(spark, tree, Nil, "replace", None,
            replaceManifests = repl)
      }
    else {
      val recOpt = newDeleteManifest(spark, tree, shaped,
        Seq("file_path", "pos"), content = 1, equalityIds = Seq.empty,
        globalSort = true)
      val repl = supersedeDeleteEntries(tree, supersedeParquetPos)
      if (recOpt.isEmpty && repl.isEmpty) tree.curId
      else publish(spark, tree, recOpt.map(_._1).toSeq, "replace",
        recOpt.flatMap(_._2), replaceManifests = repl)
    }
  }

  /** MAINTENANCE write-back — expire old foreign snapshots as one
    * metadata-only version: the newest `keepLast` snapshots of the main
    * ancestor chain survive, plus every snapshot a ref (tag/branch)
    * still points at; everything else leaves `snapshots` and the
    * snapshot-log. No data or manifest file is deleted here — an
    * expired snapshot's tree bytes become unreferenced (orphan cleanup
    * is a separate, deliberately manual concern on a SHARED tree: other
    * engines may still be reading pinned snapshots). Time travel to an
    * expired id fails loud afterwards, exactly like Iceberg. Returns
    * the number of snapshots dropped. */
  /** METADATA-ONLY format-version upgrade of a foreign tree — the
    * spec's one-way ladder, published single-winner like every commit:
    *   - → 2: the tree gains sequence-number semantics (the spec reads
    *     a v1 tree's missing sequences as 0, so every pre-upgrade row
    *     is "older" than any post-upgrade commit) — all write-back
    *     shapes then work;
    *   - → 3: row lineage initializes (`next-row-id`; pre-upgrade rows
    *     read NULL lineage — their manifests carry no first_row_id —
    *     which is the spec's value for pre-lineage data) and position
    *     tombstones switch to deletion vectors.
    * Downgrades and unknown versions refuse. Returns the new version. */
  def upgradeFormatVersion(spark: SparkSession, tableLocation: String,
      to: Int): Int = {
    implicit val fmts: Formats = DefaultFormats
    val (fs, meta, metaFile) = IcebergImport.parseMeta(spark,
      tableLocation)
    val cur = (meta \ "format-version").extractOpt[Int].getOrElse(1)
    require(to == 2 || to == 3,
      s"unknown target format-version $to (2 and 3 supported)")
    require(to > cur,
      s"format-version can only increase (tree is v$cur, asked v$to)")
    val replaced = Set("format-version", "last-updated-ms",
      "last-sequence-number") ++
      (if (to >= 3) Set("next-row-id") else Set.empty)
    val kept = meta.asInstanceOf[JObject].obj
      .filterNot(f => replaced.contains(f._1))
    val updated = JObject(kept ++ List[JField](
      "format-version" -> JInt(to),
      "last-updated-ms" -> JLong(System.currentTimeMillis()),
      "last-sequence-number" -> JLong(
        (meta \ "last-sequence-number").extractOpt[Long].getOrElse(0L)))
      ++ (if (to >= 3) List[JField]("next-row-id" -> JLong(
        (meta \ "next-row-id").extractOpt[Long].getOrElse(0L)))
       else Nil))
    publishVersion(fs, tableLocation, metaFile, updated, prevMeta = meta)
    to
  }

  def expireSnapshots(spark: SparkSession, tableLocation: String,
      keepLast: Int,
      catalog: Option[(String, String)] = None): Int = {
    implicit val fmts: Formats = DefaultFormats
    require(keepLast >= 1, "keepLast must be >= 1")
    val tree = loadTree(spark, tableLocation, catalog = catalog)
    val byId = tree.snapsJ.map(s =>
      (s \ "snapshot-id").extract[Long] -> s).toMap
    // main ancestor chain, newest first
    val chain = Iterator.iterate(Option(tree.curId))(cur => cur.flatMap(
      id => byId.get(id).flatMap(s =>
        (s \ "parent-snapshot-id").extractOpt[Long])))
      .takeWhile(_.exists(byId.contains)).flatten.toList
    val refTargets = (tree.meta \ "refs") match {
      case JObject(fs0) => fs0.flatMap { case (_, v) =>
        (v \ "snapshot-id").extractOpt[Long] }.toSet
      case _ => Set.empty[Long]
    }
    val mainKeep = chain.take(keepLast).toSet + tree.curId
    // a staged BRANCH needs its intermediate ancestors too, not just
    // its head: fastForward validates by walking parent links, so
    // expiring the middle of a linear staged segment would permanently
    // refuse the WAP publish step. Keep each non-main branch's segment
    // down to the first snapshot already kept (its fork point on a
    // retained chain); tags stay head-only labels.
    val branchKeep = scala.collection.mutable.Set.empty[Long]
    (tree.meta \ "refs") match {
      case JObject(fs0) => fs0.foreach { case (name, v) =>
        if (name != "main" &&
            (v \ "type").extractOpt[String].contains("branch")) {
          var cur = (v \ "snapshot-id").extractOpt[Long]
          while (cur.exists(id => byId.contains(id) &&
              !mainKeep(id) && branchKeep.add(id)))
            cur = byId.get(cur.get).flatMap(s =>
              (s \ "parent-snapshot-id").extractOpt[Long])
        }
      }
      case _ =>
    }
    val keep = mainKeep ++ refTargets ++ branchKeep
    val dropped = tree.snapsJ.filterNot(s =>
      keep((s \ "snapshot-id").extract[Long]))
    if (dropped.isEmpty) return 0
    val keptSnaps = tree.snapsJ.filter(s =>
      keep((s \ "snapshot-id").extract[Long]))
    val keptLog = (tree.meta \ "snapshot-log").children.filter(e =>
      keep((e \ "snapshot-id").extract[Long]))
    catalog match {
      case Some((uri, ident)) =>
        // the protocol's remove-snapshots update — the catalog trims
        // its snapshot list (and log) itself. The dropped set was
        // computed from the refs READ AT LOAD, so every one of them is
        // pinned, not just main: a concurrent set-snapshot-ref (tag or
        // branch create/advance) targeting a to-be-dropped snapshot
        // must 409 this expiry, or the catalog ends up with a ref
        // pointing at a removed snapshot
        import org.json4s.JsonDSL._
        val refAsserts: Seq[JValue] = (tree.meta \ "refs") match {
          case JObject(fs0) => fs0.collect {
            case (name, v) if name != "main" =>
              (("type" -> "assert-ref-snapshot-id") ~ ("ref" -> name) ~
                ("snapshot-id" ->
                  (v \ "snapshot-id").extract[Long])): JValue
          }
          case _ => Nil
        }
        graft.catalog.RestCatalog.commitTable(uri, ident,
          requirements = ((("type" -> "assert-ref-snapshot-id") ~
            ("ref" -> "main") ~
            ("snapshot-id" -> tree.curId)): JValue) +: refAsserts,
          updates = Seq((("action" -> "remove-snapshots") ~
            ("snapshot-ids" -> org.json4s.JArray(dropped.map(s =>
              org.json4s.JLong((s \ "snapshot-id").extract[Long])
                : JValue).toList))): JValue))
      case None =>
        val now = System.currentTimeMillis()
        val replaced = Set("last-updated-ms", "snapshots",
          "snapshot-log")
        val kept = tree.meta.asInstanceOf[JObject].obj
          .filterNot(f => replaced.contains(f._1))
        writeVersion(tree, JObject(kept ++ List[JField](
          "last-updated-ms" -> JLong(now),
          "snapshots" -> JArray(keptSnaps),
          "snapshot-log" -> JArray(keptLog))))
    }
    dropped.size
  }

  // --------------------------------------------------------------------
  // Snapshot refs (tags + branches) and history surgery — metadata-only
  // versions that publish through the same single-winner rename as a
  // data commit but create NO snapshot: exactly Iceberg's
  // ALTER TABLE ... CREATE TAG / CREATE BRANCH / DROP TAG|BRANCH and the
  // system.rollback_to_snapshot / system.fast_forward procedures. The
  // read side already resolves any ref name via `at` (IcebergImport.plan)
  // and expire keeps every ref's target alive, so a tag is a durable
  // time-travel handle and a branch is a mutable staging line
  // ([[appendTo]]'s `branch` parameter commits onto it).
  // --------------------------------------------------------------------

  /** These are WRITES: a catalog-resolved `.metadata.json` handle is a
    * read-only pin — the catalog owns the current-version pointer. */
  private def refuseCatalogHandle(tableLocation: String): Unit =
    require(!tableLocation.endsWith(".metadata.json"),
      "ref management needs the table root directory, not a metadata " +
        s"file (got $tableLocation) — catalog-resolved locations are " +
        "read-only here")

  private def refsOf(meta: JValue): List[JField] = (meta \ "refs") match {
    case JObject(fs0) => fs0
    case _ => Nil
  }

  private def snapshotIds(meta: JValue): Set[Long] = {
    implicit val fmts: Formats = DefaultFormats
    (meta \ "snapshots").children
      .map(s => (s \ "snapshot-id").extract[Long]).toSet
  }

  /** Walk parent-snapshot-id links from `from` (inclusive), newest
    * first — the ancestor chain a rollback / fast-forward validates
    * against. Bounded by the snapshot count (cycles impossible in a
    * well-formed tree, but the visited-set guard keeps a corrupt one
    * from looping). */
  private def ancestorChain(meta: JValue, from: Long): List[Long] = {
    implicit val fmts: Formats = DefaultFormats
    val byId = (meta \ "snapshots").children.map(s =>
      (s \ "snapshot-id").extract[Long] -> s).toMap
    val out = scala.collection.mutable.ListBuffer.empty[Long]
    val seen = scala.collection.mutable.Set.empty[Long]
    var cur = Option(from)
    while (cur.exists(id => byId.contains(id) && seen.add(id))) {
      out += cur.get
      cur = byId.get(cur.get).flatMap(s =>
        (s \ "parent-snapshot-id").extractOpt[Long])
    }
    out.toList
  }

  /** Create a tag (immutable label) or branch (mutable commit line) at
    * `snapshotId` (default: the current main head). Metadata-only; the
    * name must be fresh — replacing a ref is [[dropRef]] + create, and
    * `main` is managed by commits alone. Returns the target id. */
  def createRef(spark: SparkSession, tableLocation: String,
      name: String, refType: String,
      snapshotId: Option[Long] = None,
      catalog: Option[(String, String)] = None): Long = {
    import org.json4s.JsonDSL._
    implicit val fmts: Formats = DefaultFormats
    if (catalog.isEmpty) refuseCatalogHandle(tableLocation)
    require(refType == "tag" || refType == "branch",
      s"ref type must be tag|branch, got $refType")
    require(name.nonEmpty, "ref name must be non-empty")
    require(name != "main",
      "'main' is managed by commits (and rollback/fast-forward) — " +
        "pick another name")
    val (fs, meta, metaFile) = IcebergImport.parseMeta(spark,
      tableLocation)
    require(!refsOf(meta).exists(_._1 == name),
      s"ref '$name' already exists in $metaFile — drop it first " +
        "(refs are replaced explicitly, never silently)")
    val target = snapshotId.getOrElse(
      (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
        .getOrElse(throw new IllegalStateException(
          s"$metaFile has no current snapshot to tag")))
    require(snapshotIds(meta).contains(target),
      s"snapshot $target not in $metaFile — a ref must point at a " +
        "live snapshot")
    catalog match {
      case Some((uri, ident)) =>
        // the protocol's create-ref guard: a NULL assert-ref asserts
        // the ref does not exist yet
        graft.catalog.RestCatalog.commitTable(uri, ident,
          requirements = Seq((("type" -> "assert-ref-snapshot-id") ~
            ("ref" -> name) ~ ("snapshot-id" -> JNull)): JValue),
          updates = Seq((("action" -> "set-snapshot-ref") ~
            ("ref-name" -> name) ~ ("type" -> refType) ~
            ("snapshot-id" -> target)): JValue))
      case None =>
        val newRefs = JObject(refsOf(meta) :+
          (name -> (("snapshot-id" -> target) ~
            ("type" -> refType): JObject)))
        publishMetaOnly(fs, tableLocation, metaFile, meta,
          List[JField]("refs" -> newRefs))
    }
    target
  }

  /** Drop a tag or branch by name. The snapshots it pointed at stay in
    * the tree (expire decides their fate later). Returns the dropped
    * ref's target id. */
  def dropRef(spark: SparkSession, tableLocation: String,
      name: String, catalog: Option[(String, String)] = None): Long = {
    import org.json4s.JsonDSL._
    implicit val fmts: Formats = DefaultFormats
    if (catalog.isEmpty) refuseCatalogHandle(tableLocation)
    require(name != "main", "refusing to drop 'main'")
    val (fs, meta, metaFile) = IcebergImport.parseMeta(spark,
      tableLocation)
    val target = refsOf(meta).collectFirst {
      case (n, v) if n == name => (v \ "snapshot-id").extract[Long]
    }.getOrElse(throw new IllegalArgumentException(
      s"no ref '$name' in $metaFile"))
    catalog match {
      case Some((uri, ident)) =>
        graft.catalog.RestCatalog.commitTable(uri, ident,
          requirements = Seq((("type" -> "assert-ref-snapshot-id") ~
            ("ref" -> name) ~ ("snapshot-id" -> target)): JValue),
          updates = Seq((("action" -> "remove-snapshot-ref") ~
            ("ref-name" -> name)): JValue))
      case None =>
        publishMetaOnly(fs, tableLocation, metaFile, meta,
          List[JField]("refs" -> JObject(refsOf(meta)
            .filterNot(_._1 == name))))
    }
    target
  }

  /** Iceberg's `rollback_to_snapshot`: set main back to an ANCESTOR of
    * the current head. Metadata-only — no snapshot is created or
    * dropped (the rolled-past commits stay time-travelable and
    * re-reachable via fast-forward until expire removes them); the
    * snapshot-log records the change of current, exactly like Iceberg's
    * SetSnapshotOperation. Returns `snapshotId`. */
  def rollbackTo(spark: SparkSession, tableLocation: String,
      snapshotId: Long,
      catalog: Option[(String, String)] = None): Long = {
    import org.json4s.JsonDSL._
    implicit val fmts: Formats = DefaultFormats
    if (catalog.isEmpty) refuseCatalogHandle(tableLocation)
    val (fs, meta, metaFile) = IcebergImport.parseMeta(spark,
      tableLocation)
    val curId = (meta \ "current-snapshot-id").extractOpt[Long]
      .filter(_ != -1L).getOrElse(throw new IllegalStateException(
        s"$metaFile has no current snapshot to roll back"))
    if (snapshotId == curId) return curId
    require(snapshotIds(meta).contains(snapshotId),
      s"snapshot $snapshotId not in $metaFile (expired or never " +
        "existed)")
    require(ancestorChain(meta, curId).contains(snapshotId),
      s"snapshot $snapshotId is not an ancestor of the current head " +
        s"$curId — rollback follows main's own history only")
    catalog match {
      case Some((uri, ident)) =>
        graft.catalog.RestCatalog.commitTable(uri, ident,
          requirements = Seq((("type" -> "assert-ref-snapshot-id") ~
            ("ref" -> "main") ~ ("snapshot-id" -> curId)): JValue),
          updates = Seq((("action" -> "set-snapshot-ref") ~
            ("ref-name" -> "main") ~ ("type" -> "branch") ~
            ("snapshot-id" -> snapshotId)): JValue))
      case None =>
        val now = System.currentTimeMillis()
        val newRefs = JObject(refsOf(meta).filterNot(_._1 == "main") :+
          ("main" -> (("snapshot-id" -> snapshotId) ~
            ("type" -> "branch"): JObject)))
        val newLog = JArray((meta \ "snapshot-log").children :+
          ((("timestamp-ms" -> now) ~
            ("snapshot-id" -> snapshotId)): JValue))
        publishMetaOnly(fs, tableLocation, metaFile, meta,
          List[JField](
            "current-snapshot-id" -> JLong(snapshotId),
            "refs" -> newRefs,
            "snapshot-log" -> newLog))
    }
    snapshotId
  }

  /** Iceberg's `fast_forward(branch, to)`: advance ref `branch` to ref
    * `to`'s head, valid only when the move is a pure fast-forward
    * (branch's head is an ancestor of to's head — no history is ever
    * rewritten). `branch = "main"` is the write-audit-publish landing
    * step: staged commits become the table's current state atomically.
    * Returns the new head id. */
  def fastForward(spark: SparkSession, tableLocation: String,
      branch: String, to: String,
      catalog: Option[(String, String)] = None): Long = {
    import org.json4s.JsonDSL._
    implicit val fmts: Formats = DefaultFormats
    if (catalog.isEmpty) refuseCatalogHandle(tableLocation)
    val (fs, meta, metaFile) = IcebergImport.parseMeta(spark,
      tableLocation)
    val refs = refsOf(meta)
    def headOf(r: String): Long = refs.collectFirst {
      case (n, v) if n == r =>
        require((v \ "type").extractOpt[String].contains("branch"),
          s"ref '$r' is a tag — fast-forward moves branches")
        (v \ "snapshot-id").extract[Long]
    }.getOrElse {
      if (r == "main")
        (meta \ "current-snapshot-id").extractOpt[Long].filter(_ != -1L)
          .getOrElse(throw new IllegalStateException(
            s"$metaFile has no current snapshot"))
      else throw new IllegalArgumentException(s"no ref '$r' in $metaFile")
    }
    val fromId = headOf(branch)
    val toId = headOf(to)
    if (fromId == toId) return toId
    require(ancestorChain(meta, toId).contains(fromId),
      s"'$branch' (head $fromId) is not an ancestor of '$to' (head " +
        s"$toId) — the branches diverged; fast-forward never rewrites " +
        "history")
    catalog match {
      case Some((uri, ident)) =>
        graft.catalog.RestCatalog.commitTable(uri, ident,
          requirements = Seq((("type" -> "assert-ref-snapshot-id") ~
            ("ref" -> branch) ~ ("snapshot-id" -> fromId)): JValue),
          updates = Seq((("action" -> "set-snapshot-ref") ~
            ("ref-name" -> branch) ~ ("type" -> "branch") ~
            ("snapshot-id" -> toId)): JValue))
      case None =>
        val now = System.currentTimeMillis()
        val newRefs = JObject(refs.filterNot(_._1 == branch) :+
          (branch -> (("snapshot-id" -> toId) ~
            ("type" -> "branch"): JObject)))
        val fields = List[JField]("refs" -> newRefs) ++
          (if (branch == "main") List[JField](
            "current-snapshot-id" -> JLong(toId),
            "snapshot-log" -> JArray((meta \ "snapshot-log").children :+
              ((("timestamp-ms" -> now) ~
                ("snapshot-id" -> toId)): JValue)))
           else Nil)
        publishMetaOnly(fs, tableLocation, metaFile, meta, fields)
    }
    toId
  }

  /** Publish a metadata-only version: `meta` with `updatedFields`
    * replacing their old values (plus a fresh last-updated-ms), through
    * the same single-winner rename every commit takes. */
  private def publishMetaOnly(fs: FileSystem, tableLocation: String,
      metaFile: Path, meta: JValue,
      updatedFields: List[JField]): Unit = {
    val replaced = updatedFields.map(_._1).toSet + "last-updated-ms"
    val kept = meta.asInstanceOf[JObject].obj
      .filterNot(f => replaced.contains(f._1))
    publishVersion(fs, tableLocation, metaFile, JObject(kept ++
      List[JField]("last-updated-ms" ->
        JLong(System.currentTimeMillis())) ++ updatedFields),
      prevMeta = meta)
  }

  // --------------------------------------------------------------------
  // Schema evolution write-back: metadata-only commits (no snapshot, no
  // sequence bump) that register a NEW schema entry and advance
  // current-schema-id — exactly how Iceberg evolves. Readers resolve
  // old files by FIELD ID (renames and int→long widening read through;
  // added columns read NULL), so no data byte is touched. Every evolve
  // publishes through the same concurrency-guarded version rename as a
  // data commit.
  // --------------------------------------------------------------------

  /** PARTITION-SPEC evolution: register a new spec — the current
    * default spec's fields plus one more — and make it the default.
    * Metadata-only, exactly Iceberg's `ALTER TABLE ... ADD PARTITION
    * FIELD`: existing data files keep their own spec id (the
    * multi-spec read path scopes pruning and delete application per
    * spec), while the NEXT write lays out — and external planners
    * prune — under the evolved spec. The transform is validated here
    * as one the writer can evaluate EXACTLY ([[specPartition]]'s
    * rule): a spec this engine could register but not write truthful
    * tuples for would poison every future append. Returns the new
    * spec id. */
  def addPartitionField(spark: SparkSession, tableLocation: String,
      sourceCol: String, transform: String,
      name: Option[String] = None): Int = {
    import org.json4s.JsonDSL._
    implicit val fmts: Formats = DefaultFormats
    val tree = loadTree(spark, tableLocation)
    val (_, srcId, srcT) = tree.fields.find(_._1 == sourceCol)
      .getOrElse(throw new IllegalArgumentException(
        s"partition source column $sourceCol not in schema"))
    require(isScalar(srcT),
      s"partition source column $sourceCol has nested type $srcT — " +
        "partition sources must be primitive")
    val srcType = IcebergImport.sparkType(srcT)
    require(transform == "identity" ||
      IcebergImport.SupportedTransform.matches(transform),
      s"unsupported partition transform $transform — supported: " +
        "identity, bucket[N], truncate[W], year, month, day, hour")
    // evaluability check: foreignTransformCol throws on an invalid
    // (transform, source type) pairing, e.g. day on a long column
    if (transform != "identity")
      IcebergImport.foreignTransformCol(transform, col(sourceCol),
        srcType)
    val fieldName = name.getOrElse(transform match {
      case "identity" => sourceCol
      case IcebergImport.SupportedTransform.Bucket(n) =>
        s"${sourceCol}_bucket_$n"
      case IcebergImport.SupportedTransform.Truncate(w) =>
        s"${sourceCol}_trunc_$w"
      case t => s"${sourceCol}_$t"
    })
    require(!tree.specTriples.exists(_._1 == fieldName),
      s"spec field $fieldName already exists in the default spec")
    require(transform == "identity" ||
      !tree.fields.exists(_._1 == fieldName),
      s"spec field $fieldName collides with a schema column")
    require(!tree.specTriples.exists(t =>
      t._2 == transform && t._3 == srcId),
      s"the default spec already partitions by $transform($sourceCol)")

    val allSpecs = (tree.meta \ "partition-specs").children
    val newSpecId = allSpecs.map(s =>
      (s \ "spec-id").extractOpt[Int].getOrElse(0))
      .foldLeft(tree.defaultSpecId)(math.max) + 1
    // next partition-field-id: the metadata's last-partition-id when
    // recorded, else the max field-id across every spec, else the
    // spec's 999 base (field ids start at 1000)
    val newFieldId = (tree.meta \ "last-partition-id").extractOpt[Int]
      .orElse {
        val ids = allSpecs.flatMap(s => (s \ "fields").children
          .flatMap(f => (f \ "field-id").extractOpt[Int]))
        Option.when(ids.nonEmpty)(ids.max)
      }.getOrElse(999) + 1
    val newField: JValue = ("name" -> fieldName) ~
      ("transform" -> transform) ~ ("source-id" -> srcId) ~
      ("field-id" -> newFieldId)
    val newSpec: JValue = ("spec-id" -> newSpecId) ~
      ("fields" -> JArray(tree.defSpecFields.toList :+ newField))
    val now = System.currentTimeMillis()
    val replaced = Set("last-updated-ms", "partition-specs",
      "default-spec-id", "last-partition-id")
    val kept = tree.meta.asInstanceOf[JObject].obj
      .filterNot(f => replaced.contains(f._1))
    writeVersion(tree, JObject(kept ++ List[JField](
      "last-updated-ms" -> JLong(now),
      "partition-specs" -> JArray(allSpecs :+ newSpec),
      "default-spec-id" -> JInt(newSpecId),
      "last-partition-id" -> JInt(newFieldId))))
    newSpecId
  }

  /** Apply `edit` to the current schema's field list, register the
    * result as a new schema, and advance current-schema-id. Returns the
    * new schema id. `updateProps` may return a replacement `properties`
    * object to publish atomically with the schema change (the
    * name-mapping path of id-less renames). */
  private def evolveSchema(spark: SparkSession, tableLocation: String,
      updateProps: (Tree, List[JValue]) => Option[JValue] =
        (_, _) => None)
      (edit: (List[JValue], Int) => (List[JValue], Int)): Int = {
    import org.json4s.JsonDSL._
    implicit val fmts: Formats = DefaultFormats
    val tree = loadTree(spark, tableLocation)
    val curFields = (tree.schemaJ \ "fields").children
    // fallback max must see NESTED ids too (a new column allocated at
    // a nested leaf's id would collide in every id-aware reader)
    val lastColId = (tree.meta \ "last-column-id").extractOpt[Int]
      .getOrElse {
        val top = if (tree.fields.isEmpty) 0 else tree.fields.map(_._2).max
        val nested = IcebergImport.nestedIdsJ(curFields).keys
          .foldLeft(0)(math.max)
        math.max(top, nested)
      }
    val (newFields, newLastCol) = edit(curFields, lastColId)
    val newProps = updateProps(tree, curFields)
    // existing schemas list (synthesized from the v1 top-level `schema`
    // only defensively — loadTree already required a v2 tree)
    val existing: List[JValue] = (tree.meta \ "schemas").children match {
      case Nil => List(tree.schemaJ match {
        case o: JObject if (o \ "schema-id") != JNothing => o
        case o: JObject => o ~ ("schema-id" -> tree.curSchemaId)
        case other => other
      })
      case xs => xs
    }
    val newSchemaId = existing.map(s =>
      (s \ "schema-id").extractOpt[Int].getOrElse(0)).max + 1
    val newSchema: JValue =
      (("type" -> "struct"): JObject) ~ ("schema-id" -> newSchemaId) ~
        ("fields" -> JArray(newFields))
    val now = System.currentTimeMillis()
    val replaced = Set("last-updated-ms", "last-column-id",
      "current-schema-id", "schemas") ++
      (if (newProps.isDefined) Set("properties") else Set.empty)
    val kept = tree.meta.asInstanceOf[JObject].obj
      .filterNot(f => replaced.contains(f._1))
    writeVersion(tree, JObject(kept ++ List[JField](
      "last-updated-ms" -> JLong(now),
      "last-column-id" -> JInt(newLastCol),
      "current-schema-id" -> JInt(newSchemaId),
      "schemas" -> JArray(existing :+ newSchema)) ++
      newProps.map(p => "properties" -> p).toList))
    newSchemaId
  }

  /** Add an optional column of a flat scalar `icebergType` (e.g. "long",
    * "string", "decimal(10,2)") to the foreign tree. Existing files read
    * it as NULL — unless `default` is given on a v3 tree, in which case
    * the field carries the spec's `initial-default` AND `write-default`
    * (pre-evolution rows read the default; the next append must still
    * carry the column explicitly here). Defaults on a v2 tree refuse
    * loudly (v2 readers don't know the field and would read NULL —
    * a silent cross-engine divergence). Returns the new schema id. */
  def addColumn(spark: SparkSession, tableLocation: String,
      name: String, icebergType: String,
      default: Option[Any] = None): Int = {
    implicit val fmts: Formats = DefaultFormats
    IcebergImport.sparkType(icebergType) // validate before touching the tree
    val defaultJ: Option[JValue] = default.map { v =>
      val fmtV = (IcebergImport.parseMeta(spark, tableLocation)._2 \
        "format-version").extractOpt[Int].getOrElse(1)
      require(fmtV >= 3,
        s"field defaults are a format-version-3 feature (tree is " +
          s"v$fmtV): a v2 reader would silently read NULL where v3 " +
          "readers see the default")
      v match {
        case b: Boolean => JBool(b)
        case i: Int => JInt(i)
        case l: Long => JInt(l)
        case f: Float => JDouble(f.toDouble)
        case d: Double => JDouble(d)
        case s: String => JString(s)
        case other => throw new IllegalArgumentException(
          s"unsupported default value $other for $icebergType " +
            s"(flat scalars only)")
      }
    }
    evolveSchema(spark, tableLocation) { (fields, lastCol) =>
      require(!fields.exists(f =>
        (f \ "name").extractOpt[String].contains(name)),
        s"column $name already exists")
      import org.json4s.JsonDSL._
      val base: JObject = (("id" -> (lastCol + 1)): JObject) ~
        ("name" -> name) ~ ("required" -> false) ~
        ("type" -> icebergType)
      val nf: JValue = defaultJ match {
        case None => base
        case Some(d) =>
          base ~ ("initial-default" -> d) ~ ("write-default" -> d)
      }
      (fields :+ nf, lastCol + 1)
    }
  }

  /** Rename a column. Field ids are preserved, so id-ful data files
    * written under the old name keep resolving. An id-LESS (adopted /
    * migrated) tree resolves by NAME, so the rename additionally
    * publishes an updated `schema.name-mapping.default` carrying the
    * OLD name as a field-id alias — atomically with the schema change —
    * and existing files keep resolving through the mapping (Iceberg's
    * own mechanism for migrated Hive trees). Returns the new schema
    * id. */
  def renameColumn(spark: SparkSession, tableLocation: String,
      from: String, to: String): Int = {
    implicit val fmts: Formats = DefaultFormats
    val allFiles = IcebergImport.plan(spark, tableLocation).files
    val files = allFiles.filter(_.format == "parquet")
    val sample = (files.take(2) ++ files.takeRight(2)).map(_.uri).distinct
    // publish the mapping unless the sampled files are UNIFORMLY
    // id-ful: on a MIXED adopted-then-native tree the id-less files
    // need it, and the mapping is harmless for id-resolved files (id
    // resolution wins first), so erring toward publishing is safe.
    // ORC files are always name-resolved — their presence forces the
    // mapping regardless of the parquet sample.
    val idful = allFiles.size == files.size && (files.isEmpty ||
      sample.forall(u => IcebergImport.footerInfo(spark, u).hasIds))
    val updateProps: (Tree, List[JValue]) => Option[JValue] =
      if (idful) (_, _) => None
      else (tree, fields) => {
        import org.json4s.jackson.JsonMethods.{compact, parse, render}
        // existing mapping (field id → aliases), else empty
        val existing: Map[Int, Seq[String]] =
          (tree.meta \ "properties" \ "schema.name-mapping.default")
            .extractOpt[String].map { j =>
              parse(j).children.flatMap { m =>
                (m \ "field-id").extractOpt[Int].map(fid => fid ->
                  (m \ "names").children.map(_.extract[String]))
              }.toMap
            }.getOrElse(Map.empty)
        val mapping = JArray(fields.map { f =>
          val id = (f \ "id").extract[Int]
          val name = (f \ "name").extract[String]
          val names = (existing.getOrElse(id, Seq(name)) ++
            (if (name == from) Seq(from, to) else Seq(name))).distinct
          JObject(List[JField]("field-id" -> JInt(id),
            "names" -> JArray(names.map(org.json4s.JString(_)).toList)))
        })
        val oldProps: List[JField] = (tree.meta \ "properties") match {
          case JObject(fs0) => fs0
          case _ => Nil
        }
        Some(JObject(oldProps.filterNot(
          _._1 == "schema.name-mapping.default") :+
          ("schema.name-mapping.default" ->
            (org.json4s.JString(compact(render(mapping))): JValue))))
      }
    evolveSchema(spark, tableLocation, updateProps) { (fields, lastCol) =>
      require(fields.exists(f =>
        (f \ "name").extractOpt[String].contains(from)),
        s"no such column: $from")
      require(!fields.exists(f =>
        (f \ "name").extractOpt[String].contains(to)),
        s"column $to already exists")
      import org.json4s.JsonDSL._
      val nf = fields.map {
        case f if (f \ "name").extractOpt[String].contains(from) =>
          f.asInstanceOf[JObject].obj.map {
            case ("name", _) => ("name", org.json4s.JString(to))
            case kv => kv
          } match { case obj => JObject(obj) }
        case f => f
      }
      (nf, lastCol)
    }
  }

  /** Widen a column per the spec's allowed promotions: int→long,
    * float→double, decimal(P,S)→decimal(P2,S) with P2 >= P. Old files'
    * stale bounds stop pruning for that column (the importer ignores
    * bounds whose byte width no longer matches — conservative); id-ful
    * parquet reads widen physically. Returns the new schema id. */
  def widenColumn(spark: SparkSession, tableLocation: String,
      name: String, toType: String): Int = {
    implicit val fmts: Formats = DefaultFormats
    def decimalOf(t: String): Option[(Int, Int)] =
      if (!t.startsWith("decimal(")) None
      else {
        val Array(p, s) = t.stripPrefix("decimal(").stripSuffix(")")
          .split(",").map(_.trim.toInt)
        Some((p, s))
      }
    evolveSchema(spark, tableLocation) { (fields, lastCol) =>
      val cur = fields.find(f =>
        (f \ "name").extractOpt[String].contains(name)).getOrElse(
        throw new IllegalArgumentException(s"no such column: $name"))
      val fromType = (cur \ "type").extractOpt[String].getOrElse("")
      val ok = (fromType, toType) match {
        case ("int", "long") | ("float", "double") => true
        case (f0, t0) => (decimalOf(f0), decimalOf(t0)) match {
          case (Some((p1, s1)), Some((p2, s2))) => s1 == s2 && p2 >= p1
          case _ => false
        }
      }
      require(ok, s"promotion $fromType -> $toType is not in the " +
        "spec's allowed set (int->long, float->double, decimal " +
        "precision widening at equal scale)")
      val nf = fields.map {
        case f if (f \ "name").extractOpt[String].contains(name) =>
          JObject(f.asInstanceOf[JObject].obj.map {
            case ("type", _) => ("type", org.json4s.JString(toType))
            case kv => kv
          })
        case f => f
      }
      (nf, lastCol)
    }
  }
}
