package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

import graft.util.Phase

/** Keyed upsert with the exact observable semantics of the reference's
  * Iceberg `MERGE INTO` (/root/reference/bronze-silver.py:249-286):
  *
  *   - the source is first deduped keep-latest per `dedupKey` via
  *     ROW_NUMBER ... ORDER BY orderCol DESC (W1/W2,
  *     /root/reference/bronze-silver.py:254-261); note the reference dedups
  *     by a *different* (coarser) key than it merges on — SURVEY.md §2 N4 —
  *     which we reproduce by taking dedupKey and merge keys separately;
  *   - WHEN MATCHED → UPDATE SET all columns (full row replace);
  *   - WHEN NOT MATCHED → INSERT;
  *   - `Op` codes are NOT interpreted (no delete path), as in the reference
  *     (SURVEY.md §2 N1).
  *
  * Implementation is a copy-on-write rewrite, as bronze's COW table props
  * request (/root/reference/raw-bronze.py:159-163): matched rows are dropped
  * from the target via LEFT ANTI join and the deduped source is unioned in.
  *
  * Scale design: only partitions that can contain an affected key are
  * rewritten. Affected partitions = partitions of incoming source rows ∪
  * partitions of existing target rows whose key matches the source (the
  * second set catches updates that move a row across partitions). Everything
  * else is carried forward by reference in the snapshot — write
  * amplification is bounded by touched partitions, not table size. The
  * matched-partition probe is a semi-join on the merge keys; at 1000-executor
  * scale Spark broadcasts the (small) batch side so the probe is a
  * shuffle-free map-side scan over the target.
  */
object MergeInto {

  /** Dedup a CDC batch keep-latest: one row per `dedupKey`, latest by
    * `orderCol`. ROW_NUMBER over only orderCol would break ties by
    * partition-internal order — nondeterministic across reruns, and ties
    * are GUARANTEED when a whole batch shares one processed_time
    * (current_timestamp() is constant per ingest query) — so the remaining
    * columns are added as a descending struct tiebreak: fully
    * content-deterministic, ties only for byte-identical rows. */
  def dedupLatest(source: DataFrame, dedupKey: Seq[String],
      orderCol: String): DataFrame = {
    // the tie-break struct may only carry ORDERABLE columns — a map (or
    // a struct containing one) fails analysis in a sort order; dropping
    // it from the tie-break keeps the dedup total (order key + remaining
    // orderable columns) wherever it was before, and merely
    // batch-order-dependent for rows identical in every orderable column
    val rest = source.columns.filterNot(c =>
      dedupKey.contains(c) || c == orderCol).sorted
      .filter(c => org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(source.schema(c).dataType))
    val tiebreak =
      if (rest.isEmpty) Seq.empty
      else Seq(struct(rest.map(col).toIndexedSeq: _*).desc)
    val w = Window.partitionBy(dedupKey.map(col): _*)
      .orderBy(col(orderCol).desc +: tiebreak: _*)
    source.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** The batch's [min, max] per merge-key column (one tiny aggregate),
    * rendered Cast-to-string UNDER UTC like the snapshot log's file stats.
    * A session-zone cast here would shift a timestamp key's bounds against
    * the UTC-recorded stats FileStats.rangesOverlap parses, wrongly pruning
    * files that contain matched rows — so the typed extrema are collected
    * and rendered driver-side with the same UTC Cast staging uses. */
  private[table] def sourceKeyRange(deduped: DataFrame, keys: Seq[String])
      : Map[String, (Option[String], Option[String])] = {
    val aggs = keys.flatMap(k => Seq(
      min(col(k)).as(s"mn_$k"), max(col(k)).as(s"mx_$k")))
    val r = deduped.agg(aggs.head, aggs.tail: _*).collect()(0)
    val sch = deduped.schema
    def render(field: String, k: String): Option[String] = {
      val dt = sch(k).dataType
      Option(r.getAs[Any](field))
        .map(v => org.apache.spark.sql.graftglue.GraftSqlGlue
          .castToStringUtc(v, dt))
    }
    keys.map(k => k -> (render(s"mn_$k", k), render(s"mx_$k", k))).toMap
  }

  /** For SMALL batches, the distinct merge-key values per column
    * (Spark-internal form), collected driver-side for per-value file
    * probes. A plain `limit(cap+1)` short-circuits the scan — no distinct
    * shuffle ever runs — and a batch bigger than the cap returns None
    * (range-only pruning). */
  val MaxKeyProbeValues = 1024

  /** A partition tuple as the partition-path writer names its dirs:
    * each value rendered to a string, NULL as Hive's default partition. */
  private[table] def partTuple(r: org.apache.spark.sql.Row, from: Int,
      n: Int): Seq[String] =
    (from until from + n).map(i =>
      Option(r.getString(i)).getOrElse("__HIVE_DEFAULT_PARTITION__"))

  /** BOTH manifest-pruning probe inputs from ONE driver job: collect the
    * batch's key rows under the cap; when they fit, the per-value probe
    * set AND the key bounds derive from the same collect (bounds via the
    * interpreted ordering + the same UTC Cast rendering
    * [[sourceKeyRange]] uses — SQL min/max over ≤1k driver rows). A batch
    * over the cap, or a key type without an interpreted ordering, falls
    * back to the distributed range aggregate with values = None. This
    * halves the planning jobs of every small-batch merge (guide §1.2:
    * remove passes before tuning what's inside them).
    *
    * `parts` (string-typed partition projections of a batch row) ride
    * the same collect: under the cap the third result is the batch's
    * set of partition tuples ([[partTuple]]), else None. */
  private[table] def keyProbe(deduped: DataFrame, keys: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      parts: Seq[org.apache.spark.sql.Column] = Seq.empty)
      : (Map[String, (Option[String], Option[String])],
         Option[Map[String, Seq[Any]]], Option[Set[Seq[String]]]) = {
    val glue = org.apache.spark.sql.graftglue.GraftSqlGlue
    // cast to the TABLE's key types: file stats are typed by the table
    // schema, and a source batch may carry narrower types (Int vs Long)
    val rows = Phase.timed("merge.keyValues")(deduped
      .select(keys.map(k => col(k).cast(schema(k).dataType).as(k)) ++
        parts: _*)
      .limit(MaxKeyProbeValues + 1).collect())
    if (rows.length > MaxKeyProbeValues)
      return (Phase.timed("merge.keyRange")(sourceKeyRange(deduped, keys)),
        None, None)
    val values = keys.zipWithIndex.map { case (k, i) =>
      k -> rows.toSeq.map(r => glue.toCatalyst(r.get(i))).distinct
    }.toMap
    val range: Option[Map[String, (Option[String], Option[String])]] =
      try Some(keys.zipWithIndex.map { case (k, i) =>
        val dt = schema(k).dataType
        val ord = glue.interpretedOrdering(dt)
        // SQL min/max ignore NULLs; an all-null (or empty) key column
        // yields (None, None) exactly like the aggregate would
        val ext = rows.flatMap(r => Option(r.get(i)))
        if (ext.isEmpty) k -> (None, None)
        else {
          val cat = ext.map(glue.toCatalyst)
          var mnI = 0; var mxI = 0; var j = 1
          while (j < cat.length) {
            if (ord.compare(cat(j), cat(mnI)) < 0) mnI = j
            if (ord.compare(cat(j), cat(mxI)) > 0) mxI = j
            j += 1
          }
          k -> (Option(glue.castToStringUtc(ext(mnI), dt)),
            Option(glue.castToStringUtc(ext(mxI), dt)))
        }
      }.toMap)
      catch { case scala.util.control.NonFatal(_) => None }
    (range.getOrElse(
      Phase.timed("merge.keyRange")(sourceKeyRange(deduped, keys))),
      Some(values),
      Some(rows.iterator.map(partTuple(_, keys.size, parts.size)).toSet))
  }

  /** File-level manifest pruning: a live file whose recorded key range
    * cannot intersect the batch's key range can neither satisfy the
    * matched-partition probe nor contain a row the merge must rewrite —
    * it is carried forward untouched. This bounds COW write (AND read)
    * amplification by FILES whose ranges overlap the batch, not by
    * partitions, and the probe stops being a full-table scan.
    *
    * When the batch's distinct key values are few ([[smallBatchKeyValues]]),
    * each is additionally point-probed against the file's stats —
    * min/max for value gaps and the Bloom bitset when the column is
    * declared in `graft.bloom.columns` — so a sparse update batch skips
    * range-OVERLAPPING but key-DISJOINT files too (the unclustered
    * hot-table upsert case, where every file spans the full key range
    * and min/max alone prunes nothing). */
  private[table] def mayContainKeys(schema: StructType, f: String,
      stats: Map[String, Map[String, ColStat]], keys: Seq[String],
      range: Map[String, (Option[String], Option[String])],
      keyValues: Option[Map[String, Seq[Any]]]): Boolean =
    keys.forall { k =>
      stats.get(f).flatMap(_.get(k)) match {
        case Some(cs) =>
          val (lo, hi) = range(k)
          FileStats.rangesOverlap(schema(k).dataType, cs, lo, hi) &&
            keyValues.forall(_(k).exists(v =>
              FileStats.mayMatch(schema(k).dataType, cs, "=", v)))
        case None => true // no stats recorded → cannot prune
      }
    }

  /** "auto" picks MOR when the COW rewrite would exceed this AND dwarf
    * the batch — the regime where COW write amplification is the
    * bottleneck (a hot-partition upsert stream into a large table). */
  val MorAutoMinRewriteBytes: Long = 32L * 1024 * 1024
  val MorAutoAmplification: Long = 8L
  private val MorAutoRowBytesGuess: Long = 256L

  /** Explicit `mode = "mor"` demotes to COW above this many batch rows
    * (override: table property `graft.merge.mor.max-batch-rows`). The MOR
    * contract is "tombstones are a small fraction of the data"; past this
    * size every subsequent read would drag a near-table-sized anti-join,
    * so paying the rewrite ONCE is strictly cheaper. The auto mode's
    * heuristic implies the same bound; this guard closes the explicit
    * override path (reachable from SQL via `graft.merge.mode`). */
  val MorMaxBatchRows: Long = 10L * 1000 * 1000

  /** Prefix for SOURCE columns inside [[merge]]'s `updateSet`
    * expressions: `col("v")` names the TARGET's current value,
    * `srcCol("v")` the incoming batch's. */
  val SrcPrefix = "__src_"
  def srcCol(name: String): org.apache.spark.sql.Column =
    col(SrcPrefix + name)

  /** The residual ANSI MERGE clause shapes beyond [[merge]]'s named
    * parameters — together they complete the WHEN matrix (multiple
    * first-match-wins clauses are compiled INTO these fields by the SQL
    * layer: mutually-exclusive conditions + per-column CASE values, so
    * the engine applies each field at most once per row).
    *
    * @param deleteCond `WHEN MATCHED [AND cond] THEN DELETE` (the general
    *   non-CDC form): evaluated over the matched-rows join (target
    *   columns plain, source via [[srcCol]]); rows where it holds are
    *   removed — they are dropped before the update condition is even
    *   consulted (the SQL layer's compilation makes delete/update
    *   conditions mutually exclusive, preserving clause order). Forces
    *   the matched-rows join.
    * @param insertCond `WHEN NOT MATCHED AND cond THEN INSERT`:
    *   evaluated over the deduped SOURCE row under PLAIN column names
    *   (extra source columns visible); not-matched rows failing (or
    *   NULL-ing) it are dropped — in particular `Some(lit(false))`
    *   expresses a MERGE with no insert clause at all.
    * @param insertSet column-level insert values (ANSI
    *   `INSERT (cols) VALUES (exprs)`): target column → expression over
    *   the plain-named source row; unassigned columns insert NULL.
    * @param bySourceDeleteCond / bySourceUpdateCond / bySourceUpdateSet
    *   conditional `WHEN NOT MATCHED BY SOURCE THEN DELETE / UPDATE`:
    *   evaluated over the TARGET-ONLY row (plain names — there is no
    *   source side by definition). Any bySource clause forces the
    *   full-table overwrite commit, exactly like the bare syncDelete:
    *   every target row must be compared against the source key set. */
  case class MergeExtras(
      deleteCond: Option[org.apache.spark.sql.Column] = None,
      insertCond: Option[org.apache.spark.sql.Column] = None,
      insertSet: Option[Seq[(String, org.apache.spark.sql.Column)]] = None,
      bySourceDeleteCond: Option[org.apache.spark.sql.Column] = None,
      bySourceUpdateCond: Option[org.apache.spark.sql.Column] = None,
      bySourceUpdateSet: Seq[(String, org.apache.spark.sql.Column)] =
        Seq.empty) {
    def isEmpty: Boolean = deleteCond.isEmpty && insertCond.isEmpty &&
      insertSet.isEmpty && bySourceDeleteCond.isEmpty &&
      bySourceUpdateCond.isEmpty
  }

  /** @param opCol engine EXTENSION over the reference (which never
    *   interprets CDC op codes — SURVEY.md §2 N1): when set, source rows
    *   whose op ∈ `deleteOps` (after keep-latest dedup, so a later update
    *   beats an earlier delete) remove the matching target keys instead of
    *   upserting. Default None = exact reference semantics.
    * @param mode "cow" rewrites matched files (bronze's table props,
    *   /root/reference/raw-bronze.py:159-163); "mor" appends the batch and
    *   a key-tombstone equality-delete file — O(batch) write regardless of
    *   table size, merged at read (silver's format,
    *   /root/reference/bronze-silver.py:184-194); "auto" measures the
    *   would-be rewrite and picks.
    * @param updateSet COLUMN-LEVEL `WHEN MATCHED THEN UPDATE SET c = expr`
    *   (ANSI MERGE's partial update, vs the default full-row replace):
    *   each (targetColumn, expression) pair computes over a frame holding
    *   the matched TARGET row's columns under their plain names and the
    *   source row's under [[srcCol]]; unassigned columns keep the
    *   target's value. NOT MATCHED rows still INSERT the full source row,
    *   and delete-op rows still delete. Cost note: MOR mode normally
    *   never reads the target — with `updateSet` it must read the
    *   key-overlapping files (bounded by the same manifest pruning as
    *   COW planning) to obtain the unassigned columns' current values;
    *   the WRITE stays O(batch).
    * @param syncDelete ANSI `WHEN NOT MATCHED BY SOURCE THEN DELETE`
    *   (snapshot-sync semantics): target rows whose key is absent from
    *   the batch are DELETED — the final table holds exactly the
    *   matched rows (updated) plus the source-only inserts. Inherently
    *   a full-table operation (every target row must be compared
    *   against the source key set), so it commits as one overwrite;
    *   file pruning cannot apply and MOR would tombstone ~the whole
    *   table, so the mode is forced to the COW overwrite. Use for
    *   dimension-snapshot sync, never for hot-path CDC batches.
    * @param updateCond ANSI `WHEN MATCHED AND <cond> THEN UPDATE`:
    *   evaluated over the same matched-rows frame as `updateSet`
    *   (target plain, source via [[srcCol]]); matched rows failing (or
    *   NULL-ing) the condition keep the target row UNCHANGED — they are
    *   neither replaced nor deleted. Composes with full-row or
    *   column-level updates; forces the bounded overlapping-files read
    *   even for full-row mode (the kept rows must be rewritten). */
  def merge(spark: SparkSession, target: GraftTable, source: DataFrame,
      keys: Seq[String], dedupKey: Seq[String], orderCol: String,
      opCol: Option[String] = None,
      deleteOps: Seq[String] = Seq("D"), mode: String = "cow",
      txn: Option[(String, Long)] = None,
      updateSet: Option[Seq[(String, org.apache.spark.sql.Column)]] = None,
      syncDelete: Boolean = false,
      updateCond: Option[org.apache.spark.sql.Column] = None,
      extras: MergeExtras = MergeExtras(),
      // the CALLER GUARANTEES `source` already holds at most one row per
      // `dedupKey` (e.g. it is the output of a groupBy/full-outer join/
      // row_number-filter ON those keys): the keep-latest window dedup —
      // an exchange + sort over the whole batch — is then an identity
      // and is skipped (guide §2.4: remove shuffles the data's own
      // construction makes redundant). Results are identical BY THE
      // GUARANTEE; a caller that lies duplicates keys exactly as a
      // duplicate-keyed reference MERGE would.
      sourceDistinct: Boolean = false): Long = Phase.timed("table.merge") {
    require(Set("cow", "mor", "auto").contains(mode),
      s"merge mode must be cow|mor|auto, got $mode")
    // ONE view of the target's log for the whole merge: the tip it CASes
    // on, schema, spec, live files, stats and properties
    val st = target.state()
    val schema = st.schema
    val cols = schema.fieldNames.toIndexedSeq
    // Does this merge need the matched-rows JOIN (target values read)?
    // Matched deletes need target rows; restricted inserts need the
    // matched-key distinction (the join-free full-row path cannot tell
    // an update from an insert). Decided up front because it also
    // decides whether dedupedAll is worth caching at all.
    val needsJoin = updateSet.isDefined || updateCond.isDefined ||
      extras.deleteCond.isDefined || extras.insertCond.isDefined ||
      extras.insertSet.isDefined
    val dedupedAll =
      if (sourceDistinct) source
      else dedupLatest(source, dedupKey, orderCol)
    // only the join/insert-clause paths re-read the un-projected frame;
    // a plain full-row merge touches it exactly once (through `deduped`
    // below), so caching it would just materialize a second in-memory
    // copy of the batch
    if (needsJoin) dedupedAll.cache()
    // keys of every source row (updates, inserts AND deletes) drop out of
    // the target via the anti-join; only non-delete rows are re-inserted.
    val deduped = dedupedAll
      .select((cols.map(col) ++ opCol.map(col)): _*)
      .cache()

    // rows that survive as inserts/updates (delete rows only remove keys)
    val inserts = opCol match {
      case Some(oc) => deduped
        .filter(col(oc).isNull || !col(oc).isin(deleteOps: _*))
        .select(cols.map(col): _*)
      case None => deduped.select(cols.map(col): _*)
    }
    // the rows ELIGIBLE to insert where no target key matches — `inserts`
    // narrowed by the NOT MATCHED condition and projected through the
    // insert assignments (both over the PLAIN-named deduped source, so
    // extra source columns stay visible to the condition)
    val insertEligible: DataFrame =
      if (extras.insertCond.isEmpty && extras.insertSet.isEmpty) inserts
      else {
        val nonDelete = opCol match {
          case Some(oc) => dedupedAll
            .filter(col(oc).isNull || !col(oc).isin(deleteOps: _*))
          case None => dedupedAll
        }
        // SQL three-valued logic: NULL condition = clause does not fire
        val filtered = extras.insertCond match {
          case None => nonDelete
          case Some(c) => nonDelete.filter(coalesce(c, lit(false)))
        }
        extras.insertSet match {
          case None => filtered.select(cols.map(col): _*)
          case Some(assigns) =>
            val m = assigns.toMap
            filtered.select(cols.map(c => m.getOrElse(c, lit(null))
              .cast(schema(c).dataType).as(c)): _*)
        }
      }

    // rows this merge WRITES for the batch's keys: the full source row
    // (full-row replace / plain insert), or — with updateSet/updateCond
    // — matched target rows with the assignments applied (unassigned
    // columns keep the target's value; condition-failing rows keep the
    // whole target row) plus raw not-matched inserts. `affectedDf` must
    // cover every file that can contain a batch key, and is only forced
    // when the join is needed.
    def upsertRows(affectedDf: => DataFrame): DataFrame =
      if (!needsJoin) inserts
      else {
        updateSet.foreach { assigns =>
          val bad = assigns.collect { case (c, _) if !cols.contains(c) => c }
          require(bad.isEmpty,
            s"updateSet names unknown column(s): ${bad.mkString(",")}")
          require(assigns.forall { case (c, _) => !keys.contains(c) },
            "updateSet must not assign a merge key")
        }
        // renamed from dedupedALL, not the projected frame: matched
        // conditions (updateCond/deleteCond) may reference EXTRA source
        // columns that are not target columns. When dedupKey is FINER
        // than the merge keys (the N4 quirk direction), several source
        // rows can share one merge key — the matched join would then
        // emit a target row once per source row (an updated row for the
        // passing source row AND the unchanged row for a failing one),
        // duplicating keys in the output. One more keep-latest dedup on
        // the MERGE keys pins the join to one source row per key.
        val joinSource =
          if (dedupKey == keys) dedupedAll
          else dedupLatest(dedupedAll, keys, orderCol)
        val renameBase = joinSource.drop(joinSource.columns
          .filter(_.startsWith(SrcPrefix)).toIndexedSeq: _*) // reserved
        val renamed = renameBase.columns.filterNot(keys.contains)
          .foldLeft(renameBase)((d, c) =>
            d.withColumnRenamed(c, SrcPrefix + c))
        val joined = affectedDf.join(renamed, keys, "inner")
        val nonDelete = opCol match {
          case Some(oc) => joined.filter(col(SrcPrefix + oc).isNull ||
            !col(SrcPrefix + oc).isin(deleteOps: _*))
          case None => joined
        }
        // general matched DELETE (non-CDC form): rows where it holds are
        // gone — dropped before the update condition applies (the SQL
        // layer compiled the two mutually exclusive, preserving clause
        // order)
        val afterDelete = extras.deleteCond match {
          case None => nonDelete
          case Some(dc) => nonDelete.filter(!coalesce(dc, lit(false)))
        }
        // SQL three-valued logic: a NULL condition means "this clause
        // does not fire" — the row keeps its target state
        val pass = coalesce(updateCond.getOrElse(lit(true)), lit(false))
        val assignMap = updateSet.getOrElse(Seq.empty).toMap
        val matchedOut = afterDelete.filter(pass).select(cols.map(c =>
          (if (updateSet.isDefined)
            assignMap.get(c)
              .map(_.cast(schema(c).dataType))
              .getOrElse(col(c))
          else if (keys.contains(c)) col(c)
          else col(SrcPrefix + c).cast(schema(c).dataType)).as(c)): _*)
        val keptMatched = afterDelete.filter(!pass)
          .select(cols.map(col): _*)
        val newInserts = insertEligible.join(
          affectedDf.select(keys.map(col): _*).distinct(),
          keys, "left_anti")
        matchedOut.unionByName(keptMatched).unionByName(newInserts)
      }

    val hasBySource = syncDelete || extras.bySourceDeleteCond.isDefined ||
      extras.bySourceUpdateCond.isDefined
    if (hasBySource) {
      // NOT MATCHED BY SOURCE semantics force the full-table comparison
      // (every target row must probe the source key set), so the commit
      // is one overwrite — O(result) write, by the semantics' own nature.
      // Bare syncDelete: target-only rows vanish, result fully determined
      // by source + matched rows. Conditional forms keep the target-only
      // survivors (optionally updated).
      val upserted =
        if (!needsJoin) inserts // full-row: result ≡ deduped source
        else upsertRows(target.read(st))
      val out =
        if (syncDelete) upserted
        else {
          val tOnly = target.read(st).join(
            deduped.select(keys.map(col): _*).distinct(), keys, "left_anti")
          val delPass = coalesce(
            extras.bySourceDeleteCond.getOrElse(lit(false)), lit(false))
          val survivors0 = tOnly.filter(!delPass)
          val survivors = extras.bySourceUpdateCond match {
            case None => survivors0.select(cols.map(col): _*)
            case Some(uc) =>
              val pass = coalesce(uc, lit(false))
              val m = extras.bySourceUpdateSet.toMap
              survivors0.select(cols.map(c =>
                when(pass, m.getOrElse(c, col(c)).cast(schema(c).dataType))
                  .otherwise(col(c)).as(c)): _*)
          }
          upserted.unionByName(survivors)
        }
      val staged = Phase.timed("merge.stageSync")(
        target.stage(st, target.align(out, schema)))
      deduped.unpersist(); dedupedAll.unpersist()
      return Phase.timed("merge.commitSync")(
        target.commitMerge(st, staged, st.liveFiles, txn))
    }

    val fields = st.partitionFields
    // Partition values are rendered with Spark's own Cast-to-string (the
    // conversion the partition-path writer uses), NOT JVM toString:
    // java.sql.Timestamp.toString gives '2024-01-01 00:00:00.0' where the
    // partition dir decodes to '2024-01-01 00:00:00' — toString would
    // never match, matched target rows would not be rewritten, and the
    // merge would silently duplicate keys for any non-string partition
    // column. Hidden-partitioning transforms are applied first, so tuples
    // compare at the DIR level. Source columns are cast to the TABLE's
    // types first — a bucket transform hashes the typed value, and a
    // narrower-typed source (Int vs Long) would hash into the wrong bucket
    lazy val partStrs = fields.map(f => PartitionTransforms
      .columnFor(f, col(f.source).cast(schema(f.source).dataType),
        schema(f.source).dataType)
      .cast("string").as(f.physName))
    // lazy: the key-range/point-probe pruning inputs cost a distributed
    // aggregate + a capped collect over the batch — COW planning needs
    // them, a pure-MOR commit (append + tombstone, nothing read) does NOT,
    // so mode="mor" must never pay for them (EXCEPT with updateSet,
    // whose unassigned columns force a bounded read of overlapping files)
    lazy val live = st.liveFiles
    lazy val stats = Phase.timed("merge.statsFor")(st.statsFor(live))
    lazy val probe = keyProbe(deduped, keys, schema, partStrs)
    lazy val keyRange = probe._1
    lazy val keyValues = probe._2
    def overlapping(files: Seq[String]): Seq[String] =
      files.filter(f =>
        mayContainKeys(schema, f, stats, keys, keyRange, keyValues))

    // MOR: append the batch + a key-tombstone delete file; nothing is
    // read or rewritten (the tombstone's sequence makes it apply only to
    // files older than this commit — the batch's own inserts are safe).
    // Commits append-like: concurrent MOR merges retry, never conflict.
    def morCommit(batchRows: Long): Long = {
      val delKeys = deduped.select(
        keys.map(k => col(k).cast(schema(k).dataType).as(k)): _*)
      // the tombstone write and the insert write are INDEPENDENT jobs
      // over the same cached batch (already materialized by the count
      // above): overlap them instead of serializing. On failure both
      // sides' staged files are unreferenced orphans, exactly like a
      // crashed write.
      val (delPaths, added) = graft.util.Overlap(spark)(
        Phase.timed("merge.stageDeletes")(
          target.stageDeletes(delKeys, batchRows)))(
        Phase.timed("merge.stageInserts")(target.stage(st, target.align(
          upsertRows(target.morRead(st, overlapping(live))), schema))))
      deduped.unpersist(); dedupedAll.unpersist()
      Phase.timed("merge.commitMor")(
        target.commitMergeMor(st, added, delPaths, keys, txn,
          // read-modify-write merges CAS on the tip their target
          // values were read at (casParent: an empty chain asserts a
          // parentless publish); pure append-like merges skip the check
          expectedParent =
            if (needsJoin) GraftTable.casParent(st.tipId) else None))
    }
    // would a COW rewrite of `files` be both large and >>batch?
    def autoPrefersMor(files: Seq[String]): Boolean = mode == "auto" && {
      val rewriteBytes = target.bytesOf(st, files)
      rewriteBytes >= MorAutoMinRewriteBytes &&
        rewriteBytes >=
          MorAutoAmplification * MorAutoRowBytesGuess * deduped.count()
    }
    if (mode == "mor") {
      // size guard: an oversized explicit-MOR batch demotes to COW — a
      // tombstone set this large taxes EVERY subsequent read more than
      // the one-time rewrite costs (and the batch count is a cached-frame
      // count, not a new scan)
      val maxRows = st.properties
        .get("graft.merge.mor.max-batch-rows").map(_.toLong)
        .getOrElse(MorMaxBatchRows)
      val batchRows = deduped.count()
      if (batchRows <= maxRows) return morCommit(batchRows)
    }

    if (fields.isEmpty) {
      // Unpartitioned COW, file-pruned: only files whose key range
      // overlaps the batch are rewritten; the rest stay live untouched.
      val touched = overlapping(live)
      if (autoPrefersMor(touched)) return morCommit(deduped.count())
      val touchedDf = target.morRead(st, touched)
      val kept = touchedDf.join(deduped, keys, "left_anti")
      val merged = kept.unionByName(upsertRows(touchedDf))
      val added = Phase.timed("merge.stageRewrite")(
        target.stage(st, target.align(merged, schema)))
      deduped.unpersist(); dedupedAll.unpersist()
      Phase.timed("merge.commitCow")(
        target.commitMerge(st, added, touched, txn))
    } else {
      // Partition-pruned COW. A file's partition tuple under the current
      // spec; None for a file written before a partition-spec evolution,
      // which has no dirs for the current spec — it cannot be
      // partition-pruned (only the key-range probe applies); pruning it
      // would silently skip matched rows and duplicate keys
      def fileTuple(f: String): Option[Seq[String]] = {
        val kv = GraftTable.partitionValues(f)
        Option.when(fields.forall(f2 => kv.contains(f2.physName)))(
          fields.map(f2 => kv(f2.physName)))
      }
      val candidates = overlapping(live)
      // Affected partitions = tuples of incoming source rows UNION tuples
      // of matched target rows (the second set catches updates that move
      // a row across partitions). When the batch fits the key probe's cap
      // and every candidate file lies in a partition the batch itself
      // writes, matched rows can add no tuple: the batch's own set, from
      // the key probe's collect, is the answer. Otherwise ONE probe job
      // computes the union: the target side reads only the candidate
      // files, and the semi-join needs no pre-distinct (semi-join
      // semantics already dedup the probe side).
      val affected: Set[Seq[String]] = probe._3
        .filter(own => candidates.forall(f => fileTuple(f).exists(own)))
        .getOrElse(Phase.timed("merge.probeParts")(
          deduped.select(partStrs: _*).unionByName(
            target.morRead(st, candidates)
              .join(deduped.select(keys.map(col): _*), keys, "left_semi")
              .select(partStrs: _*))
            .distinct().collect().map(partTuple(_, 0, fields.size)).toSet))

      val affectedFiles = overlapping(live.filter(f =>
        fileTuple(f).forall(affected)))
      if (autoPrefersMor(affectedFiles)) return morCommit(deduped.count())
      // MOR-aware read: rows tombstoned by earlier MOR merges must not
      // resurrect into the rewritten files
      val affectedDf = target.morRead(st, affectedFiles)

      val kept = affectedDf.join(deduped, keys, "left_anti")
      val merged = kept.unionByName(upsertRows(affectedDf))
      val added = Phase.timed("merge.stageRewrite")(
        target.stage(st, target.align(merged, schema)))
      deduped.unpersist(); dedupedAll.unpersist()
      Phase.timed("merge.commitCow")(
        target.commitMerge(st, added, affectedFiles, txn))
    }
  }
}
